"""Operator → (Spark query, DuckDB oracle) registry.

Every implemented operator from SURVEY.md §2 gets one entry exercising it on
the driver's synthetic tables (FIXTURES.md §8 mapping). The Spark side goes
through the engine's operator modules; the oracle is ANSI SQL DuckDB runs on
the same parquet. Column names/types are aligned on both sides because the
driver hash-compares values under sorted column names.

Determinism contract: all pseudo-random operators derive order from
md5(seed|key) (functions/hashing.py) so Spark and DuckDB agree bit-for-bit.
Float aggregates are rounded on both sides before comparison.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from jigsaw_spark.functions.hashing import md5_key, md5_key_sql
from jigsaw_spark.operators.aggregates import (
    dense_label_map,
    distinct_labels,
    extent_merge,
    moments,
)
from jigsaw_spark.operators.filters import FilterGroup, FilterStep, and_filter, or_filter
from jigsaw_spark.operators.joins import construct, semi_join, union_distinct
from jigsaw_spark.operators.samples import (
    exact_sample,
    kfold_assign,
    shard_assign,
    split_data,
)
from jigsaw_spark.operators.transforms import Transform, recode_column, recode_sql
from jigsaw_spark.session import load_table


@dataclass
class QuerySpec:
    spark: Callable[[SparkSession, str], DataFrame]
    oracle: str | None  # None → driver records rows-only check
    doc: str = ""


QUERIES: dict[str, QuerySpec] = {}


def register(name: str, oracle: str | None, doc: str = ""):
    def deco(fn):
        # a duplicate name silently REPLACED the earlier registration
        # (and its driver-certified oracle) until r6, when a new batch's
        # fn_variant overwrote round-3's — fail loudly instead
        if name in QUERIES:
            raise KeyError(f"query {name!r} is already registered")
        QUERIES[name] = QuerySpec(spark=fn, oracle=oracle, doc=doc)
        return fn

    return deco


# ---------------------------------------------------------------------------
# Exact money arithmetic.
#
# Every money/rate column in the testdata holds 2-decimal values stored as
# doubles. Summing doubles is accumulation-order-dependent, so a rounded sum
# can flip a cent between Spark and DuckDB when a group total lands near a
# half-cent boundary (the r01 `merge_upsert` hash flake). The fix: cast the
# 2-decimal inputs to decimal (exact in both engines — the nearest double of
# a 2-decimal value renders back to that value), accumulate in decimal
# (exact, order-independent, AQE/partitioning-proof), round the exact
# decimal (HALF_UP away from zero in both engines), and cast the result to
# double so canonical rendering matches bit-for-bit.
#
# Precisions are kept small (12,2 for prices; 3,2 for rates) so that triple
# products like price*(1-disc)*(1+tax) stay inside DuckDB's p1+p2<=38
# multiplication bound without truncation on either engine.
# ---------------------------------------------------------------------------


def dec2(col, prec: int = 18):
    """Cast a 2-decimal double column/expr to exact decimal."""
    c = F.col(col) if isinstance(col, str) else col
    return c.cast(f"decimal({prec},2)")


def dsum(col, scale: int = 2):
    """Order-independent rounded money sum → double (see module note)."""
    return F.round(F.sum(col), scale).cast("double")


def davg(col, scale: int = 4, prec: int = 18):
    """Deterministic rounded mean of a 2-decimal column: exact decimal sum
    cast to double, divided by the non-null count (double division and the
    final round are bit-identical across engines for the same operands)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.round(
        F.sum(dec2(c, prec)).cast("double") / F.count(c), scale
    )


# Exact-decimal discounted revenue — the expression almost every TPC-H-shape
# query sums. Kept as one helper pair (Spark expr + SQL text) so both sides
# stay bit-identical.
_REV_SQL = (
    "CAST(l_extendedprice AS DECIMAL(12,2))"
    " * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(3,2)))"
)


def rev_col():
    return dec2("l_extendedprice", 12) * (
        F.lit(1).cast("decimal(3,2)") - F.col("l_discount").cast("decimal(3,2)")
    )


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, sf_dir, name)


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
# Scalar function surface (SURVEY §2.7)
# ---------------------------------------------------------------------------


@register(
    "fn_scalar",
    """
    SELECT o_orderkey,
           CAST(year(o_orderdate) AS INT)  AS order_year,
           CAST(month(o_orderdate) AS INT) AS order_month,
           o_orderkey % 7                  AS id_mod,
           CAST(floor(o_totalprice / 10000) AS INT) AS price_bucket,
           lower(o_orderstatus)            AS status_lower,
           concat_ws(':', o_orderstatus, o_orderpriority) AS pri_tag,
           substr(o_orderpriority, 1, 1)   AS pri_digit
    FROM orders
    """,
    "scalar fn surface: date parts, modulo, floor, case, concat, substring",
)
def fn_scalar(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    return orders.select(
        "o_orderkey",
        F.year("o_orderdate").cast("int").alias("order_year"),
        F.month("o_orderdate").cast("int").alias("order_month"),
        (F.col("o_orderkey") % 7).alias("id_mod"),
        F.floor(F.col("o_totalprice") / 10000).cast("int").alias("price_bucket"),
        F.lower("o_orderstatus").alias("status_lower"),
        F.concat_ws(":", "o_orderstatus", "o_orderpriority").alias("pri_tag"),
        F.substring("o_orderpriority", 1, 1).alias("pri_digit"),
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
    "fn_datetime",
    """
    SELECT event_id,
           CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
           CAST(extract(year FROM ts) AS INT) AS y,
           CAST(extract(month FROM ts) AS INT) AS mo,
           CAST(extract(hour FROM ts) AS INT) AS h,
           ts + INTERVAL 1 DAY AS next_day
    FROM events
    """,
    "datetime scalar surface: truncation, field extraction, interval "
    "arithmetic — all codegen'd projections at scan speed",
)
def fn_datetime(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        F.date_trunc("day", "ts").alias("day"),
        F.year("ts").alias("y"),
        F.month("ts").alias("mo"),
        F.hour("ts").alias("h"),
        (F.col("ts") + F.expr("INTERVAL 1 DAY")).alias("next_day"),
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
    "fn_json",
    """
    SELECT event_id,
           CAST(props->>'$.k' AS INT) AS k,
           CAST(props->>'$.missing' AS INT) AS missing
    FROM events
    """,
    "JSON extraction from a string column (semi-structured props) — "
    "codegen'd path evaluation, scan-speed projection",
)
def fn_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        F.get_json_object("props", "$.k").cast("int").alias("k"),
        F.get_json_object("props", "$.missing").cast("int").alias("missing"),
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
    "fn_higher_order",
    """
    SELECT l_orderkey,
           CAST(len(list_filter(parts, x -> x % 2 = 0)) AS INT) AS n_even,
           list_reduce(list_transform(parts, x -> x * 2), (a, b) -> a + b)
             AS doubled_sum,
           list_sort(parts)[1] AS smallest
    FROM (SELECT l_orderkey, list(l_partkey ORDER BY l_linenumber) AS parts
          FROM lineitem GROUP BY l_orderkey)
    """,
    "higher-order collection functions (filter / transform+aggregate / "
    "sort over array columns) — in-row lambdas, whole-stage codegen, the "
    "no-UDF path for nested data",
)
def fn_higher_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    parts = (
        li.groupBy("l_orderkey")
        .agg(
            F.array_sort(
                F.collect_list(F.struct("l_linenumber", "l_partkey"))
            ).alias("_p")
        )
        .select(
            "l_orderkey",
            F.transform("_p", lambda s: s["l_partkey"]).alias("parts"),
        )
    )
    return parts.select(
        "l_orderkey",
        F.size(F.filter("parts", lambda x: x % 2 == 0)).alias("n_even"),
        F.aggregate(
            F.transform("parts", lambda x: x * 2),
            F.lit(0).cast("bigint"),
            lambda acc, x: acc + x,
        ).alias("doubled_sum"),
        F.array_min("parts").alias("smallest"),
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


@register(
    "fn_subquery",
    """
    SELECT o.o_orderkey, o.o_totalprice,
           (SELECT round(max(o2.o_totalprice), 2) FROM orders o2
             WHERE o2.o_custkey = o.o_custkey) AS cust_max
    FROM orders o
    WHERE EXISTS (SELECT 1 FROM lineitem l
                  WHERE l.l_orderkey = o.o_orderkey AND l.l_quantity >= 49)
      AND NOT EXISTS (SELECT 1 FROM lineitem l
                      WHERE l.l_orderkey = o.o_orderkey AND l.l_discount > 0.09)
    """,
    "subquery surface: correlated EXISTS / NOT EXISTS (decorrelated to "
    "semi/anti joins) + correlated scalar subquery (decorrelated to an "
    "aggregate + join) — Catalyst's RewritePredicateSubquery at work",
)
def fn_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os

    o = os.path.join(sf_dir, "orders.parquet")
    li = os.path.join(sf_dir, "lineitem.parquet")
    return spark.sql(
        f"""
        SELECT o.o_orderkey, o.o_totalprice,
               (SELECT round(max(o2.o_totalprice), 2)
                  FROM parquet.`{o}` o2
                 WHERE o2.o_custkey = o.o_custkey) AS cust_max
        FROM parquet.`{o}` o
        WHERE EXISTS (SELECT 1 FROM parquet.`{li}` l
                      WHERE l.l_orderkey = o.o_orderkey AND l.l_quantity >= 49)
          AND NOT EXISTS (SELECT 1 FROM parquet.`{li}` l
                          WHERE l.l_orderkey = o.o_orderkey AND l.l_discount > 0.09)
        """
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


# LLM-data-pipeline queries (dedup / similarity / text) and the streaming
# query register themselves on import; keep these at module end so
# `register` and `_t` exist.
from jigsaw_spark.plans import queries_llm  # noqa: E402,F401
from jigsaw_spark.plans import queries_mm  # noqa: E402,F401
from jigsaw_spark.plans import queries_rel2  # noqa: E402,F401
from jigsaw_spark.plans import queries_rel3  # noqa: E402,F401
from jigsaw_spark.plans import queries_rel4  # noqa: E402,F401
from jigsaw_spark.plans import queries_rel5  # noqa: E402,F401
from jigsaw_spark.plans import queries_fn3  # noqa: E402,F401
from jigsaw_spark.plans import queries_fn4  # noqa: E402,F401
from jigsaw_spark.plans import queries_llm2  # noqa: E402,F401
from jigsaw_spark.plans import queries_streaming  # noqa: E402,F401
from jigsaw_spark.plans import queries_r3  # noqa: E402,F401
from jigsaw_spark.plans import queries_r4  # noqa: E402,F401
from jigsaw_spark.plans import queries_r5  # noqa: E402,F401
from jigsaw_spark.plans import queries_r6  # noqa: E402,F401
from jigsaw_spark.plans import queries_r7  # noqa: E402,F401
from jigsaw_spark.plans import queries_r8  # noqa: E402,F401
from jigsaw_spark.plans import queries_r9  # noqa: E402,F401
from jigsaw_spark.plans import queries_r10  # noqa: E402,F401
from jigsaw_spark.plans import queries_r11  # noqa: E402,F401
from jigsaw_spark.plans import queries_r12  # noqa: E402,F401
from jigsaw_spark.plans import queries_r13  # noqa: E402,F401
from jigsaw_spark.plans import queries_r14  # noqa: E402,F401
from jigsaw_spark.plans import queries_r15  # noqa: E402,F401
from jigsaw_spark.plans import queries_r16  # noqa: E402,F401
from jigsaw_spark.plans import queries_r17  # noqa: E402,F401
from jigsaw_spark.plans import queries_r18  # noqa: E402,F401
from jigsaw_spark.plans import queries_r19  # noqa: E402,F401
from jigsaw_spark.plans import queries_r20  # noqa: E402,F401
from jigsaw_spark.plans import queries_r21  # noqa: E402,F401
from jigsaw_spark.plans import queries_r22  # noqa: E402,F401
from jigsaw_spark.plans import queries_r23  # noqa: E402,F401
from jigsaw_spark.plans import queries_r24  # noqa: E402,F401
from jigsaw_spark.plans import queries_r25  # noqa: E402,F401
from jigsaw_spark.plans import queries_r26  # noqa: E402,F401
from jigsaw_spark.plans import queries_r27  # noqa: E402,F401
from jigsaw_spark.plans import queries_r28  # noqa: E402,F401
from jigsaw_spark.plans import queries_r29  # noqa: E402,F401
from jigsaw_spark.plans import queries_r30  # noqa: E402,F401
from jigsaw_spark.plans import queries_r31  # noqa: E402,F401
from jigsaw_spark.plans import queries_r32  # noqa: E402,F401
from jigsaw_spark.plans import queries_r33  # noqa: E402,F401
from jigsaw_spark.plans import queries_r34  # noqa: E402,F401
# r40 was the round-9 queue; its 2 queries now head the r9 window.
from jigsaw_spark.plans import queries_r40  # noqa: E402,F401
from jigsaw_spark.plans import queries_r41  # noqa: E402,F401
from jigsaw_spark.plans import queries_r42  # noqa: E402,F401
from jigsaw_spark.plans import queries_r43  # noqa: E402,F401
from jigsaw_spark.plans import queries_r44  # noqa: E402,F401
from jigsaw_spark.plans import queries_r45  # noqa: E402,F401
from jigsaw_spark.plans import queries_r46  # noqa: E402,F401
from jigsaw_spark.plans import queries_r47  # noqa: E402,F401
from jigsaw_spark.plans import queries_r48  # noqa: E402,F401
from jigsaw_spark.plans import queries_r49  # noqa: E402,F401
from jigsaw_spark.plans import queries_r50  # noqa: E402,F401
from jigsaw_spark.plans import queries_r51  # noqa: E402,F401
from jigsaw_spark.plans import queries_r52  # noqa: E402,F401
from jigsaw_spark.plans import queries_r53  # noqa: E402,F401
from jigsaw_spark.plans import queries_r54  # noqa: E402,F401
# r55 was the round-10 queue; its 2 queries now head the r10 window.
from jigsaw_spark.plans import queries_r55  # noqa: E402,F401
from jigsaw_spark.plans import queries_r56  # noqa: E402,F401
from jigsaw_spark.plans import queries_r57  # noqa: E402,F401
from jigsaw_spark.plans import queries_r58  # noqa: E402,F401
from jigsaw_spark.plans import queries_r59  # noqa: E402,F401
# r60 was the round-11 queue; its 2 queries now head the r11 window.
from jigsaw_spark.plans import queries_r60  # noqa: E402,F401
from jigsaw_spark.plans import queries_r61  # noqa: E402,F401
from jigsaw_spark.plans import queries_r62  # noqa: E402,F401
from jigsaw_spark.plans import queries_r63  # noqa: E402,F401
from jigsaw_spark.plans import queries_r64  # noqa: E402,F401
# r65 was the round-12 queue; its 2 queries now head the r12 window.
from jigsaw_spark.plans import queries_r65  # noqa: E402,F401
from jigsaw_spark.plans import queries_r66  # noqa: E402,F401
from jigsaw_spark.plans import queries_r67  # noqa: E402,F401
from jigsaw_spark.plans import queries_r68  # noqa: E402,F401
from jigsaw_spark.plans import queries_r69  # noqa: E402,F401
# r70 was the round-13 queue; its 2 queries now head the r13 window.
from jigsaw_spark.plans import queries_r70  # noqa: E402,F401
from jigsaw_spark.plans import queries_r71  # noqa: E402,F401
from jigsaw_spark.plans import queries_r72  # noqa: E402,F401
from jigsaw_spark.plans import queries_r73  # noqa: E402,F401
from jigsaw_spark.plans import queries_r74  # noqa: E402,F401
# r75 is the ROUND-14 QUEUE (overflow module at _OVERFLOW_BOUNDARY,
# behind the 50-slot window by policy — the r40/r55/r60/r65/r70
# pattern): replica-verified this round, first driver row next round.
from jigsaw_spark.plans import queries_r75  # noqa: E402,F401


# First queries_r{N} module that queues behind the driver's 50-slot
# certification window. tests/test_entry.py imports it so the window test
# and the registry cannot drift.
_OVERFLOW_BOUNDARY = 76

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
