"""Data-quality queries (``dq_*``, ``profile_table``): contamination,
leakage, drift screens, repairs and table profiling.

Contamination joins the small holdout shingle set against the train
shingle hash-aggregate on the shingle key: no pair enumeration. Repairs
promote through a (source, md5-band) rank, never a raw-fact global window.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from jigsaw_spark.functions.hashing import det_hash
from jigsaw_spark.plans.dedup import (
    _KEEPER_COMPONENTS_CTE,
    _KEEPER_EDGES_CTE,
    _keeper_cluster_cte,
)
from jigsaw_spark.plans.mm import _DHASH_PAIRS_CTE, _PHASH_BYTES_CTE, mm_phash_near_dup
from jigsaw_spark.plans.registry import QUERIES, _components_cte, _t, register


def _holdout_col(doc_id="doc_id"):
    """The 'contam|' md5 5% holdout flag shared by the contamination
    family (doc-level md5 stream, 12 hex chars, mod 20). ``doc_id``
    may be a column name or a Column (e.g. a lambda element var, so
    the flag can evaluate inside array expressions)."""
    return F.pmod(det_hash(doc_id, seed="contam", chars=12), F.lit(20)) == 0


_HOLDOUT_SQL = """CAST(CAST(('0x' || substr(md5('contam|'
               || CAST({d} AS VARCHAR)), 1, 12)) AS UBIGINT)
               % CAST(20 AS UBIGINT) AS BIGINT) = 0"""


_PROFILE_COLS = ("o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority")


@register(
    "profile_table",
    "\nUNION ALL\n".join(
        f"""
    SELECT '{c}' AS col_name, count(*) AS n_rows,
           CAST(sum(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_nulls,
           count(DISTINCT {c}) AS n_distinct,
           CAST(min({c}) AS VARCHAR) AS min_val,
           CAST(max({c}) AS VARCHAR) AS max_val
    FROM orders"""
        for c in _PROFILE_COLS
    ),
    "one-scan table profiler: per-column rows/nulls/exact-distinct/"
    "min/max in a single fused hash aggregate (Expand for the "
    "multi-distinct; approx_count_distinct is the no-Expand scale path), "
    "long-form via literal-array explode",
)
def profile_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    from jigsaw_spark.operators.aggregates import profile_columns

    orders = _t(spark, sf_dir, "orders")
    return profile_columns(orders, list(_PROFILE_COLS))


def _dq_rules():
    from jigsaw_spark.operators.dq import Rule

    return [
        Rule("not_null", "o_custkey"),
        Rule("in_range", "o_totalprice", lo=0.0, hi=600000.0),
        Rule("accepted_values", "o_orderstatus", values=("O", "F", "P")),
        Rule("matches", "o_orderpriority", pattern="^[1-5]-"),
        Rule("unique", "o_orderkey"),
        # thresholded rule: most orders are terminal (O/F); P is rare
        Rule("accepted_values", "o_orderstatus", values=("O", "F"),
             min_fraction=0.8),
    ]


@register(
    "dq_expectations",
    None,  # installed below from the operator's adjacent SQL renderer
    "deequ-lite expectations: six rules (not-null, range, accepted "
    "values, regex, uniqueness, thresholded not-null) compiled into ONE "
    "scan — shared hash-agg buffer + count-distinct in the same pass; "
    "output is |rules| rows, lazily planned",
)
def dq_expectations(spark: SparkSession, sf_dir: str) -> DataFrame:
    from jigsaw_spark.operators.dq import dq_check

    return dq_check(_t(spark, sf_dir, "orders"), _dq_rules())


def _install_dq_oracle() -> None:
    from jigsaw_spark.operators.dq import dq_oracle_sql

    QUERIES["dq_expectations"].oracle = dq_oracle_sql("orders", _dq_rules())


_install_dq_oracle()


@register(
    "dq_psi_drift",
    """
    WITH old AS (
      SELECT CAST(floor(o_totalprice / 50000) AS BIGINT) AS b
      FROM orders WHERE o_orderkey % 2 = 0),
    new AS (
      SELECT CAST(floor(o_totalprice / 50000) AS BIGINT) AS b
      FROM orders WHERE o_orderkey % 2 = 1),
    po AS (SELECT b, count(*) AS c FROM old GROUP BY b),
    pn AS (SELECT b, count(*) AS c FROM new GROUP BY b),
    no_ AS (SELECT sum(c) AS n FROM po),
    nn AS (SELECT sum(c) AS n FROM pn),
    j AS (
      SELECT coalesce(po.b, pn.b) AS b,
             (coalesce(po.c, 0) + 0.5) / (no_.n + 0.5) AS p,
             (coalesce(pn.c, 0) + 0.5) / (nn.n + 0.5) AS q
      FROM po FULL OUTER JOIN pn USING (b) CROSS JOIN no_ CROSS JOIN nn)
    SELECT round(sum((p - q) * ln(p / q)), 6) AS psi,
           count(*) AS n_buckets
    FROM j
    """,
    "population-stability-index drift between two snapshots (even/odd "
    "key halves as the deterministic split): two bucket hash-aggs, a "
    "bucket-keyed full-outer join (buckets are bounded — KB), additive-"
    "smoothed so empty buckets never divide by zero; the model-ops "
    "drift gate",
)
def dq_psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    b = F.floor(F.col("o_totalprice") / 50000).cast("bigint").alias("b")

    def hist(pred):
        return (
            orders.filter(pred)
            .select(b)
            .groupBy("b")
            .agg(F.count(F.lit(1)).alias("c"))
        )

    po = hist(F.col("o_orderkey") % 2 == 0)
    pn = hist(F.col("o_orderkey") % 2 == 1)
    no = po.agg(F.sum("c").alias("n_old"))
    nn = pn.agg(F.sum("c").alias("n_new"))
    j = (
        po.withColumnRenamed("c", "c_old")
        .join(pn.withColumnRenamed("c", "c_new"), "b", "full")
        .crossJoin(F.broadcast(no))
        .crossJoin(F.broadcast(nn))
        .select(
            (
                (F.coalesce("c_old", F.lit(0)) + 0.5)
                / (F.col("n_old") + 0.5)
            ).alias("p"),
            (
                (F.coalesce("c_new", F.lit(0)) + 0.5)
                / (F.col("n_new") + 0.5)
            ).alias("q"),
        )
    )
    return j.agg(
        F.round(
            F.sum((F.col("p") - F.col("q")) * F.log(F.col("p") / F.col("q"))),
            6,
        ).alias("psi"),
        F.count(F.lit(1)).alias("n_buckets"),
    )


# ---------------------------------------------------------------------------
# dq_benford
# ---------------------------------------------------------------------------

_BENFORD_SQL = """
    WITH d AS (
      SELECT CAST(substr(CAST(CAST(round(o_totalprice * 100, 0) AS BIGINT)
                              AS VARCHAR), 1, 1) AS INT) AS digit
      FROM orders WHERE o_totalprice > 0),
    obs AS (SELECT digit, count(*) AS n_d FROM d GROUP BY digit),
    tot AS (SELECT sum(n_d) AS n FROM obs),
    exp AS (
      SELECT unnest(range(1, 10)) AS digit),
    j AS (
      SELECT e.digit,
             coalesce(o.n_d, 0) AS observed,
             CAST(round(log10(1.0 + 1.0 / e.digit) * 1e6) AS BIGINT)
               AS p_micro,
             t.n
      FROM exp e LEFT JOIN obs o ON e.digit = o.digit CROSS JOIN tot t)
    SELECT digit, CAST(observed AS BIGINT) AS observed,
           round(n * p_micro / 1e6, 4) AS expected,
           round(round(
             (observed - n * p_micro / 1e6) * (observed - n * p_micro / 1e6)
             / (n * p_micro / 1e6), 9), 6) AS chi2_term
    FROM j ORDER BY digit
"""


@register(
    "dq_benford",
    _BENFORD_SQL,
    "Benford's-law first-significant-digit screen on order amounts "
    "(the classic fabricated-data detector): digit extracted from the "
    "EXACT integer cents (never libm log10 of the value), per-digit "
    "chi-square contribution against p_d = log10(1+1/d) snapped to "
    "micro-units per DIGIT (9 libm calls total, identical both "
    "engines). Corpus -> ONE hash agg; everything after runs on 9 rows",
)
def dq_benford(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    digit = F.substring(
        F.round(F.col("o_totalprice") * 100, 0).cast("bigint").cast("string"),
        1,
        1,
    ).cast("int")
    obs = (
        orders.filter(F.col("o_totalprice") > 0)
        .select(digit.alias("digit"))
        .groupBy("digit")
        .agg(F.count(F.lit(1)).alias("n_d"))
    )
    tot = obs.agg(F.sum("n_d").alias("n"))
    exp = spark.range(1, 10).select(F.col("id").cast("int").alias("digit"))
    p_micro = F.round(F.log10(1.0 + 1.0 / F.col("digit")) * 1e6).cast("bigint")
    j = (
        exp.join(obs, "digit", "left_outer")
        .select(
            "digit",
            F.coalesce("n_d", F.lit(0)).alias("observed"),
            p_micro.alias("p_micro"),
        )
        .crossJoin(F.broadcast(tot))
    )
    e = F.col("n") * F.col("p_micro") / 1e6
    return j.select(
        "digit",
        F.col("observed").cast("bigint").alias("observed"),
        F.round(e, 4).alias("expected"),
        F.round(
            F.round((F.col("observed") - e) * (F.col("observed") - e) / e, 9), 6
        ).alias("chi2_term"),
    ).orderBy("digit")


# ---------------------------------------------------------------------------
# dq_fk_orphans
# ---------------------------------------------------------------------------

_FK_SQL = """
    SELECT
      CAST((SELECT count(*) FROM lineitem l
            WHERE NOT EXISTS (SELECT 1 FROM orders o
                              WHERE o.o_orderkey = l.l_orderkey))
           AS BIGINT) AS li_orphans,
      CAST((SELECT count(*) FROM orders o
            WHERE NOT EXISTS (SELECT 1 FROM customer c
                              WHERE c.c_custkey = o.o_custkey))
           AS BIGINT) AS ord_orphans,
      CAST((SELECT count(*) FROM customer c
            WHERE NOT EXISTS (SELECT 1 FROM orders o
                              WHERE o.o_custkey = c.c_custkey))
           AS BIGINT) AS idle_customers,
      CAST((SELECT count(*) FROM lineitem) AS BIGINT) AS li_total,
      CAST((SELECT count(*) FROM orders) AS BIGINT) AS ord_total
"""


@register(
    "dq_fk_orphans",
    _FK_SQL,
    "referential-integrity audit (the dbt 'relationships' test as one "
    "query): orphan counts along lineitem->orders->customer plus the "
    "reverse idle-customer count and totals for coverage ratios. Each "
    "leg is ONE anti/semi join on the key (broadcast when the dim "
    "side is small); exact integers only",
)
def dq_fk_orphans(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    li_orphans = li.join(
        orders.select("o_orderkey"),
        li["l_orderkey"] == F.col("o_orderkey"),
        "left_anti",
    ).count()
    ord_orphans = orders.join(
        cust.select("c_custkey"),
        orders["o_custkey"] == F.col("c_custkey"),
        "left_anti",
    ).count()
    idle = cust.join(
        orders.select("o_custkey"),
        cust["c_custkey"] == F.col("o_custkey"),
        "left_anti",
    ).count()
    return spark.createDataFrame(
        [(li_orphans, ord_orphans, idle, li.count(), orders.count())],
        "li_orphans bigint, ord_orphans bigint, idle_customers bigint, "
        "li_total bigint, ord_total bigint",
    )


# ---------------------------------------------------------------------------
# dq_column_profile
# ---------------------------------------------------------------------------

_PROFILE_SQL = """
    WITH a AS (
      SELECT count(*) AS n_rows,
             count(event_id) AS nn_id, count(DISTINCT event_id) AS nd_id,
             min(event_id) AS mn_id, max(event_id) AS mx_id,
             count(user_id) AS nn_u, count(DISTINCT user_id) AS nd_u,
             min(user_id) AS mn_u, max(user_id) AS mx_u,
             count(value) AS nn_v, count(DISTINCT value) AS nd_v,
             min(CAST(round(value * 100, 0) AS BIGINT)) AS mn_v,
             max(CAST(round(value * 100, 0) AS BIGINT)) AS mx_v,
             count(event_type) AS nn_t, count(DISTINCT event_type) AS nd_t,
             count(props) AS nn_p, count(DISTINCT props) AS nd_p
      FROM events)
    SELECT col, n_rows, n_nulls, n_distinct, min_num, max_num FROM (
      SELECT 'event_id' AS col, n_rows,
             CAST(n_rows - nn_id AS BIGINT) AS n_nulls,
             CAST(nd_id AS BIGINT) AS n_distinct,
             CAST(mn_id AS BIGINT) AS min_num,
             CAST(mx_id AS BIGINT) AS max_num FROM a
      UNION ALL
      SELECT 'user_id', n_rows, CAST(n_rows - nn_u AS BIGINT),
             CAST(nd_u AS BIGINT), CAST(mn_u AS BIGINT),
             CAST(mx_u AS BIGINT) FROM a
      UNION ALL
      SELECT 'value_cents', n_rows, CAST(n_rows - nn_v AS BIGINT),
             CAST(nd_v AS BIGINT), CAST(mn_v AS BIGINT),
             CAST(mx_v AS BIGINT) FROM a
      UNION ALL
      SELECT 'event_type', n_rows, CAST(n_rows - nn_t AS BIGINT),
             CAST(nd_t AS BIGINT), CAST(NULL AS BIGINT),
             CAST(NULL AS BIGINT) FROM a
      UNION ALL
      SELECT 'props', n_rows, CAST(n_rows - nn_p AS BIGINT),
             CAST(nd_p AS BIGINT), CAST(NULL AS BIGINT),
             CAST(NULL AS BIGINT) FROM a) t
"""


@register(
    "dq_column_profile",
    _PROFILE_SQL,
    "per-column data profile of the events table — the Deequ/TFDV "
    "profiling report (row count, null count, exact distinct count, "
    "numeric min/max in cents): ONE scan computes every statistic in "
    "a single aggregate, then a 5-row unpivot shapes the report; "
    "string columns emit NULL numeric bounds (collation-free). The "
    "schema-drift / completeness monitor every production pipeline "
    "runs before training",
)
def dq_column_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    a = ev.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count("event_id").alias("nn_id"),
        F.countDistinct("event_id").alias("nd_id"),
        F.min("event_id").alias("mn_id"),
        F.max("event_id").alias("mx_id"),
        F.count("user_id").alias("nn_u"),
        F.countDistinct("user_id").alias("nd_u"),
        F.min("user_id").alias("mn_u"),
        F.max("user_id").alias("mx_u"),
        F.count("value").alias("nn_v"),
        F.countDistinct("value").alias("nd_v"),
        F.min(F.round(F.col("value") * 100, 0).cast("bigint")).alias("mn_v"),
        F.max(F.round(F.col("value") * 100, 0).cast("bigint")).alias("mx_v"),
        F.count("event_type").alias("nn_t"),
        F.countDistinct("event_type").alias("nd_t"),
        F.count("props").alias("nn_p"),
        F.countDistinct("props").alias("nd_p"),
    )
    return a.selectExpr(
        """stack(5,
             'event_id', n_rows, CAST(n_rows - nn_id AS BIGINT),
               CAST(nd_id AS BIGINT), CAST(mn_id AS BIGINT),
               CAST(mx_id AS BIGINT),
             'user_id', n_rows, CAST(n_rows - nn_u AS BIGINT),
               CAST(nd_u AS BIGINT), CAST(mn_u AS BIGINT),
               CAST(mx_u AS BIGINT),
             'value_cents', n_rows, CAST(n_rows - nn_v AS BIGINT),
               CAST(nd_v AS BIGINT), CAST(mn_v AS BIGINT),
               CAST(mx_v AS BIGINT),
             'event_type', n_rows, CAST(n_rows - nn_t AS BIGINT),
               CAST(nd_t AS BIGINT), CAST(NULL AS BIGINT),
               CAST(NULL AS BIGINT),
             'props', n_rows, CAST(n_rows - nn_p AS BIGINT),
               CAST(nd_p AS BIGINT), CAST(NULL AS BIGINT),
               CAST(NULL AS BIGINT)
           ) AS (col, n_rows, n_nulls, n_distinct, min_num, max_num)"""
    )


# ---------------------------------------------------------------------------
# dq_uniqueness_keys
# ---------------------------------------------------------------------------

_UNIQ_SQL = """
    WITH a AS (
      SELECT count(*) AS n,
             count(DISTINCT l_orderkey) AS d1,
             count(DISTINCT (l_orderkey, l_linenumber)) AS d2,
             count(DISTINCT (l_partkey, l_suppkey)) AS d3,
             count(DISTINCT (l_orderkey, l_partkey, l_suppkey)) AS d4
      FROM lineitem)
    SELECT key_name, n_rows, n_distinct,
           CAST(CASE WHEN n_distinct = n_rows THEN 1 ELSE 0 END AS INT)
             AS is_unique
    FROM (
      SELECT 'l_orderkey' AS key_name, CAST(n AS BIGINT) AS n_rows,
             CAST(d1 AS BIGINT) AS n_distinct FROM a
      UNION ALL
      SELECT 'l_orderkey,l_linenumber', CAST(n AS BIGINT),
             CAST(d2 AS BIGINT) FROM a
      UNION ALL
      SELECT 'l_partkey,l_suppkey', CAST(n AS BIGINT),
             CAST(d3 AS BIGINT) FROM a
      UNION ALL
      SELECT 'l_orderkey,l_partkey,l_suppkey', CAST(n AS BIGINT),
             CAST(d4 AS BIGINT) FROM a) t
"""


@register(
    "dq_uniqueness_keys",
    _UNIQ_SQL,
    "candidate-key discovery (the Deequ uniqueness check): exact "
    "distinct counts for four key combinations of lineitem vs the row "
    "count, unpivoted to a per-key report with an is_unique verdict. "
    "Tuple-distinct (count(DISTINCT struct)) is injective by "
    "construction — no separator-ambiguity class (the snapshot_diff "
    "lesson). One scan computes all four; at production scale each "
    "distinct is its own partial-agg shuffle on the key",
)
def dq_uniqueness_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    a = li.agg(
        F.count(F.lit(1)).alias("n"),
        F.countDistinct("l_orderkey").alias("d1"),
        F.countDistinct("l_orderkey", "l_linenumber").alias("d2"),
        F.countDistinct("l_partkey", "l_suppkey").alias("d3"),
        F.countDistinct("l_orderkey", "l_partkey", "l_suppkey").alias("d4"),
    )
    return a.selectExpr(
        """stack(4,
             'l_orderkey', CAST(n AS BIGINT), CAST(d1 AS BIGINT),
             'l_orderkey,l_linenumber', CAST(n AS BIGINT),
               CAST(d2 AS BIGINT),
             'l_partkey,l_suppkey', CAST(n AS BIGINT), CAST(d3 AS BIGINT),
             'l_orderkey,l_partkey,l_suppkey', CAST(n AS BIGINT),
               CAST(d4 AS BIGINT)
           ) AS (key_name, n_rows, n_distinct)"""
    ).selectExpr(
        "key_name",
        "n_rows",
        "n_distinct",
        "CAST(CASE WHEN n_distinct = n_rows THEN 1 ELSE 0 END AS INT)"
        " AS is_unique",
    )


# ---------------------------------------------------------------------------
# dq_ks_2sample
# ---------------------------------------------------------------------------

_KS_SQL = """
    WITH x AS (
      SELECT event_type,
             CAST(round(value * 100, 0) AS BIGINT) AS cents,
             CAST(user_id % 2 AS INT) AS v
      FROM events),
    g AS (
      SELECT event_type, cents,
             sum(CASE WHEN v = 0 THEN 1 ELSE 0 END) AS ca,
             sum(CASE WHEN v = 1 THEN 1 ELSE 0 END) AS cb
      FROM x GROUP BY 1, 2),
    cum AS (
      SELECT event_type,
             sum(ca) OVER w AS cua, sum(cb) OVER w AS cub,
             sum(ca) OVER (PARTITION BY event_type) AS na,
             sum(cb) OVER (PARTITION BY event_type) AS nb
      FROM g WINDOW w AS (PARTITION BY event_type ORDER BY cents)),
    d AS (
      SELECT event_type, any_value(na) AS na, any_value(nb) AS nb,
             max(abs(cua * nb - cub * na)) AS d_num
      FROM cum GROUP BY event_type)
    SELECT event_type,
           CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b,
           CAST(d_num AS BIGINT) AS d_num,
           CAST(1000 * d_num // (na * nb) AS BIGINT) AS d_milli
    FROM d
"""


@register(
    "dq_ks_2sample",
    _KS_SQL,
    "two-sample Kolmogorov-Smirnov drift statistic per event type "
    "(variant = user parity): D = max |CDF_a - CDF_b|, kept EXACT by "
    "cross-multiplying cumulative counts to the common denominator "
    "n_a*n_b (integer numerator, milli-unit quotient) — the "
    "nonparametric distribution-drift screen beside PSI/JSD, with no "
    "binning choice to tune. Shape: one hash agg to the "
    "distinct-value dim, partitioned prefix windows, one max agg — "
    "the fact table is scanned once",
)
def dq_ks_2sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    x = ev.select(
        "event_type",
        F.round(F.col("value") * 100, 0).cast("bigint").alias("cents"),
        (F.col("user_id") % 2).cast("int").alias("v"),
    )
    g = x.groupBy("event_type", "cents").agg(
        F.sum(F.when(F.col("v") == 0, 1).otherwise(0)).alias("ca"),
        F.sum(F.when(F.col("v") == 1, 1).otherwise(0)).alias("cb"),
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("cents")
        .rangeBetween(Window.unboundedPreceding, 0)
    )
    wt = Window.partitionBy("event_type")
    cum = g.select(
        "event_type",
        F.sum("ca").over(w).alias("cua"),
        F.sum("cb").over(w).alias("cub"),
        F.sum("ca").over(wt).alias("na"),
        F.sum("cb").over(wt).alias("nb"),
    )
    d = cum.groupBy("event_type").agg(
        F.first("na").alias("na"),
        F.first("nb").alias("nb"),
        F.max(
            F.abs(F.col("cua") * F.col("nb") - F.col("cub") * F.col("na"))
        ).alias("d_num"),
    )
    return d.select(
        "event_type",
        F.col("na").cast("bigint").alias("n_a"),
        F.col("nb").cast("bigint").alias("n_b"),
        F.col("d_num").cast("bigint").alias("d_num"),
        F.expr("CAST(1000 * d_num div (na * nb) AS BIGINT)").alias(
            "d_milli"
        ),
    )


# ---------------------------------------------------------------------------
# dq_skew_report
# ---------------------------------------------------------------------------

_SKEW_SQL = """
    WITH by_type AS (
      SELECT count(*) AS c FROM events GROUP BY event_type),
    by_user AS (
      SELECT count(*) AS c FROM events GROUP BY user_id % 1024),
    by_day AS (
      SELECT count(*) AS c FROM events
      GROUP BY epoch_us(ts) // 86400000000)
    SELECT key_name, n_partitions, total_rows, max_rows,
           CAST(max_rows * n_partitions * 1000 // total_rows AS BIGINT)
             AS skew_milli
    FROM (
      SELECT 'event_type' AS key_name,
             CAST(count(*) AS BIGINT) AS n_partitions,
             CAST(sum(c) AS BIGINT) AS total_rows,
             CAST(max(c) AS BIGINT) AS max_rows
      FROM by_type
      UNION ALL
      SELECT 'user_bucket_1024', CAST(count(*) AS BIGINT),
             CAST(sum(c) AS BIGINT), CAST(max(c) AS BIGINT) FROM by_user
      UNION ALL
      SELECT 'day', CAST(count(*) AS BIGINT), CAST(sum(c) AS BIGINT),
             CAST(max(c) AS BIGINT) FROM by_day) t
"""


@register(
    "dq_skew_report",
    _SKEW_SQL,
    "partition-skew diagnosis for three candidate shuffle keys (event "
    "type, 1024-way user bucket, calendar day): per key the partition "
    "count, total, max partition size, and the max/avg ratio in "
    "milli-units (1000 = perfectly uniform) — the pre-shuffle report "
    "that decides salting factors and AQE skew thresholds before a "
    "production join/agg. Each key is one hash agg + one tiny "
    "rollup; all integer floor-division arithmetic",
)
def dq_skew_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")

    def key_report(name: str, key):
        c = ev.groupBy(key.alias("k")).agg(F.count(F.lit(1)).alias("c"))
        return c.agg(
            F.lit(name).alias("key_name"),
            F.count(F.lit(1)).cast("bigint").alias("n_partitions"),
            F.sum("c").cast("bigint").alias("total_rows"),
            F.max("c").cast("bigint").alias("max_rows"),
        )

    rep = (
        key_report("event_type", F.col("event_type"))
        .unionByName(
            key_report("user_bucket_1024", F.col("user_id") % 1024)
        )
        .unionByName(
            key_report(
                "day", F.expr("unix_micros(ts) div 86400000000")
            )
        )
    )
    return rep.withColumn(
        "skew_milli",
        F.expr(
            "CAST(max_rows * n_partitions * 1000 div total_rows AS BIGINT)"
        ),
    )


# ---------------------------------------------------------------------------
# dq_freshness
# ---------------------------------------------------------------------------

_FRESH_SQL = """
    WITH m AS (
      SELECT event_type, max(epoch_us(ts)) AS last_us,
             count(*) AS n
      FROM events GROUP BY event_type),
    g AS (SELECT max(last_us) AS frontier FROM m)
    SELECT m.event_type,
           CAST(m.n AS BIGINT) AS n_events,
           CAST(m.last_us AS BIGINT) AS last_us,
           CAST((g.frontier - m.last_us) // 60000000 AS BIGINT)
             AS lag_minutes,
           CAST(CASE WHEN g.frontier - m.last_us > 86400000000
                     THEN 1 ELSE 0 END AS INT) AS is_stale_24h
    FROM m CROSS JOIN g
"""


@register(
    "dq_freshness",
    _FRESH_SQL,
    "ingestion-freshness SLA monitor: per event type the latest "
    "arrival, its lag behind the global frontier in whole minutes "
    "(integer floor division of microseconds), and a 24h staleness "
    "flag — the first alert every production pipeline wires, here as "
    "an auditable query. ONE max/count agg + a 1-row frontier scalar "
    "crossed back; at scale the agg is map-side combinable to "
    "|types| rows",
)
def dq_freshness(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    m = ev.groupBy("event_type").agg(
        F.max(F.unix_micros("ts")).alias("last_us"),
        F.count(F.lit(1)).alias("n"),
    )
    g = m.agg(F.max("last_us").alias("frontier"))
    return m.crossJoin(F.broadcast(g)).select(
        "event_type",
        F.col("n").cast("bigint").alias("n_events"),
        F.col("last_us").cast("bigint").alias("last_us"),
        F.expr(
            "CAST((frontier - last_us) div 60000000 AS BIGINT)"
        ).alias("lag_minutes"),
        F.when(F.col("frontier") - F.col("last_us") > 86400000000, 1)
        .otherwise(0)
        .cast("int")
        .alias("is_stale_24h"),
    )


# ---------------------------------------------------------------------------
# dq_rule_violations
# ---------------------------------------------------------------------------

_RULES_SQL = """
    WITH li AS (
      SELECT l_quantity, l_discount, l_tax, l_extendedprice, l_shipdate
      FROM lineitem),
    a AS (
      SELECT count(*) AS n,
             sum(CASE WHEN l_quantity < 1 OR l_quantity > 50
                      THEN 1 ELSE 0 END) AS v_qty,
             sum(CASE WHEN l_discount < 0 OR l_discount > 0.1
                      THEN 1 ELSE 0 END) AS v_disc,
             sum(CASE WHEN l_extendedprice <= 0 THEN 1 ELSE 0 END)
               AS v_price,
             sum(CASE WHEN l_shipdate < TIMESTAMP '1992-01-01'
                       OR l_shipdate >= TIMESTAMP '1999-01-01'
                      THEN 1 ELSE 0 END) AS v_date
      FROM li)
    SELECT rule, n_rows, n_violations,
           CAST(n_violations * 1000000 // n_rows AS BIGINT) AS rate_micro,
           CAST(CASE WHEN n_violations = 0 THEN 1 ELSE 0 END AS INT)
             AS passes
    FROM (
      SELECT 'quantity_in_1_50' AS rule, CAST(n AS BIGINT) AS n_rows,
             CAST(v_qty AS BIGINT) AS n_violations FROM a
      UNION ALL
      SELECT 'discount_in_0_10pct', CAST(n AS BIGINT),
             CAST(v_disc AS BIGINT) FROM a
      UNION ALL
      SELECT 'price_positive', CAST(n AS BIGINT),
             CAST(v_price AS BIGINT) FROM a
      UNION ALL
      SELECT 'shipdate_in_range', CAST(n AS BIGINT),
             CAST(v_date AS BIGINT) FROM a) t
"""


@register(
    "dq_rule_violations",
    _RULES_SQL,
    "declarative rule audit (the dbt-test / Deequ-constraint layer): "
    "four domain/cross-field rules on lineitem — quantity in [1,50], "
    "discount in [0, 0.1], positive price, shipdate in the valid "
    "window — evaluated in ONE conditional aggregate and unpivoted to "
    "a per-rule report with violation counts, micro rates, and a "
    "pass flag. The ingest contract every pipeline runs before "
    "publishing a partition",
)
def dq_rule_violations(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    a = li.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(
            F.when(
                (F.col("l_quantity") < 1) | (F.col("l_quantity") > 50), 1
            ).otherwise(0)
        ).alias("v_qty"),
        F.sum(
            F.when(
                (F.col("l_discount") < 0) | (F.col("l_discount") > 0.1), 1
            ).otherwise(0)
        ).alias("v_disc"),
        F.sum(F.when(F.col("l_extendedprice") <= 0, 1).otherwise(0)).alias(
            "v_price"
        ),
        F.sum(
            F.when(
                (F.col("l_shipdate") < F.lit("1992-01-01").cast("timestamp"))
                | (
                    F.col("l_shipdate")
                    >= F.lit("1999-01-01").cast("timestamp")
                ),
                1,
            ).otherwise(0)
        ).alias("v_date"),
    )
    return a.selectExpr(
        """stack(4,
             'quantity_in_1_50', CAST(n AS BIGINT), CAST(v_qty AS BIGINT),
             'discount_in_0_10pct', CAST(n AS BIGINT),
               CAST(v_disc AS BIGINT),
             'price_positive', CAST(n AS BIGINT), CAST(v_price AS BIGINT),
             'shipdate_in_range', CAST(n AS BIGINT), CAST(v_date AS BIGINT)
           ) AS (rule, n_rows, n_violations)"""
    ).selectExpr(
        "rule",
        "n_rows",
        "n_violations",
        "CAST(n_violations * 1000000 div n_rows AS BIGINT) AS rate_micro",
        "CAST(CASE WHEN n_violations = 0 THEN 1 ELSE 0 END AS INT)"
        " AS passes",
    )


# ---------------------------------------------------------------------------
# dq_embedding_norms
# ---------------------------------------------------------------------------

_NORM_SQL = """
    WITH q AS (
      SELECT vec_id, label,
             CAST(list_sum(list_transform(embedding::DOUBLE[],
                    x -> CAST(round(x * 1000) AS BIGINT)
                         * CAST(round(x * 1000) AS BIGINT))) AS BIGINT) AS sq
      FROM embeddings),
    g AS (SELECT label, sq, count(*) AS c FROM q GROUP BY 1, 2),
    cum AS (
      SELECT label, sq,
             sum(c) OVER (PARTITION BY label ORDER BY sq) AS cc,
             sum(c) OVER (PARTITION BY label) AS n
      FROM g),
    med AS (
      SELECT label, CAST(max(n) AS BIGINT) AS n,
             CAST(min(CASE WHEN cc >= (n + 1) // 2 THEN sq END) AS BIGINT)
               AS med_sq
      FROM cum GROUP BY label),
    dev AS (
      SELECT q.label, abs(q.sq - m.med_sq) AS ad
      FROM q JOIN med m ON q.label = m.label),
    dg AS (SELECT label, ad, count(*) AS c FROM dev GROUP BY 1, 2),
    dcum AS (
      SELECT label, ad,
             sum(c) OVER (PARTITION BY label ORDER BY ad) AS cc,
             sum(c) OVER (PARTITION BY label) AS n
      FROM dg),
    mad AS (
      SELECT label,
             CAST(min(CASE WHEN cc >= (n + 1) // 2 THEN ad END) AS BIGINT)
               AS mad_sq
      FROM dcum GROUP BY label)
    SELECT m.label,
           m.n,
           m.med_sq,
           mad.mad_sq,
           (SELECT CAST(count(*) AS BIGINT) FROM q
            WHERE q.label = m.label
              AND abs(q.sq - m.med_sq) > 5 * mad.mad_sq) AS n_outliers
    FROM med m JOIN mad ON m.label = mad.label
"""


@register(
    "dq_embedding_norms",
    _NORM_SQL,
    "embedding-table health check: exact integer median + MAD of "
    "QUANTIZED SQUARED norms (milli-unit coordinates — no sqrt, no "
    "libm anywhere) per label, flagging vectors > 5 MADs from the "
    "median — collapsed (near-zero) or exploded vectors poison cosine "
    "dedup and ANN recall before any model sees them. Shape: one "
    "map-only quantized fold, the nearest-rank percentile idiom twice "
    "(label-partitioned windows over the distinct-value dim), one "
    "outlier count join — every number is an exact integer",
)
def dq_embedding_norms(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    qv = F.transform(
        F.col("embedding").cast("array<double>"),
        lambda x: F.round(x * 1000).cast("long"),
    )
    sq = F.aggregate(
        qv, F.lit(0).cast("long"), lambda acc, v: acc + v * v
    )
    q = emb.select("vec_id", "label", sq.alias("sq"))

    def _median(df: DataFrame, val: str, out: str) -> DataFrame:
        g = df.groupBy("label", val).agg(F.count(F.lit(1)).alias("c"))
        w = (
            Window.partitionBy("label")
            .orderBy(val)
            .rangeBetween(Window.unboundedPreceding, 0)
        )
        cum = g.select(
            "label",
            F.col(val),
            F.sum("c").over(w).alias("cc"),
            F.sum("c").over(Window.partitionBy("label")).alias("n"),
        )
        return cum.groupBy("label").agg(
            F.max("n").cast("bigint").alias("n"),
            F.min(
                F.when(F.col("cc") >= F.expr("(n + 1) div 2"), F.col(val))
            )
            .cast("bigint")
            .alias(out),
        )

    med = _median(q, "sq", "med_sq")
    dev = q.join(F.broadcast(med.select("label", "med_sq")), "label").select(
        "label", F.abs(F.col("sq") - F.col("med_sq")).alias("ad")
    )
    mad = _median(dev, "ad", "mad_sq").select("label", "mad_sq")
    stats = med.join(F.broadcast(mad), "label")
    outliers = (
        q.join(F.broadcast(stats.select("label", "med_sq", "mad_sq")), "label")
        .filter(
            F.abs(F.col("sq") - F.col("med_sq")) > 5 * F.col("mad_sq")
        )
        .groupBy("label")
        .agg(F.count(F.lit(1)).alias("no"))
    )
    return stats.join(outliers, "label", "left_outer").select(
        "label",
        "n",
        "med_sq",
        "mad_sq",
        F.coalesce("no", F.lit(0)).cast("bigint").alias("n_outliers"),
    )


# ---------------------------------------------------------------------------
# dq_table_checksum
# ---------------------------------------------------------------------------

_CK_MOD = 2_305_843_009_213_693_952  # 2^61 — headroom below int64 max


# (table, engine-shared key expression) — the key string is the row's
# IDENTITY for fingerprinting (multiset semantics: duplicate keys hash
# identically and sum twice, so repeated (orderkey, linenumber) pairs in
# the synthetic lineitem still fingerprint deterministically)
_CK_KEYS = [
    ("region", "'r|' || CAST(r_regionkey AS STRING)"),
    ("nation", "'n|' || CAST(n_nationkey AS STRING)"),
    ("customer", "'c|' || CAST(c_custkey AS STRING)"),
    ("supplier", "'s|' || CAST(s_suppkey AS STRING)"),
    ("part", "'p|' || CAST(p_partkey AS STRING)"),
    ("orders", "'o|' || CAST(o_orderkey AS STRING)"),
    (
        "lineitem",
        "'l|' || CAST(l_orderkey AS STRING) || '|' "
        "|| CAST(l_linenumber AS STRING)",
    ),
    ("events", "'e|' || CAST(event_id AS STRING)"),
    ("documents", "'d|' || CAST(doc_id AS STRING)"),
    ("embeddings", "'v|' || CAST(vec_id AS STRING)"),
]


def _checksum_sql() -> str:
    parts = []
    for tbl, key in _CK_KEYS:
        duck_key = key.replace(" AS STRING", " AS VARCHAR")
        parts.append(
            f"""
    SELECT '{tbl}' AS tbl,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(('0x' || substr(md5({duck_key}), 1, 12))::UBIGINT)
                % {_CK_MOD} AS BIGINT) AS key_checksum
    FROM {tbl}"""
        )
    return " UNION ALL ".join(parts)


@register(
    "dq_table_checksum",
    _checksum_sql(),
    "order-insensitive exact table fingerprints: per table, row count + "
    "the sum of md5-int48 key hashes in decimal(38,0), reduced mod 2^61 "
    "— integer addition commutes, so the checksum is identical under "
    "ANY partitioning, engine, or row order, and two copies of a table "
    "agree iff (n_rows, checksum) agree: the migration/replication/"
    "backfill validation primitive (one map-side-combinable agg per "
    "table, no sort, no collect). Key strings are table-prefixed so "
    "cross-table id collisions cannot cancel",
)
def dq_table_checksum(spark: SparkSession, sf_dir: str) -> DataFrame:
    frames = []
    for tbl, key in _CK_KEYS:
        df = _t(spark, sf_dir, tbl)
        frames.append(
            df.agg(
                F.count(F.lit(1)).cast("bigint").alias("n_rows"),
                F.expr(
                    f"CAST(sum(CAST(conv(substring(md5({key}), 1, 12), 16, 10)"
                    f" AS DECIMAL(38,0))) % {_CK_MOD} AS BIGINT)"
                ).alias("key_checksum"),
            ).select(F.lit(tbl).alias("tbl"), "n_rows", "key_checksum")
        )
    out = frames[0]
    for f in frames[1:]:
        out = out.unionByName(f)
    return out


# ---------------------------------------------------------------------------
# dq_mutual_information
# ---------------------------------------------------------------------------

_MI_SQL = """
    WITH cells AS (
      SELECT event_type AS x,
             -- true floor-day BEFORE the pmod-7: DuckDB's integer //
             -- truncates toward zero on this expression shape (r8
             -- advisor: -1 // 86400000000 = 0), so subtract the
             -- non-negative remainder first — identical to Spark's
             -- subtract-pmod form for pre-1970 epochs too
             CAST(((((epoch_us(ts)
                      - (((epoch_us(ts) % 86400000000) + 86400000000)
                         % 86400000000))
                     // 86400000000) % 7) + 7) % 7 AS INT)
               AS y,
             count(*) AS c
      FROM events GROUP BY 1, 2),
    mx AS (SELECT x, sum(c) AS cx FROM cells GROUP BY x),
    my AS (SELECT y, sum(c) AS cy FROM cells GROUP BY y),
    t AS (SELECT sum(c) AS n FROM cells)
    SELECT CAST((SELECT n FROM t) AS BIGINT) AS n,
           CAST(count(*) AS BIGINT) AS n_cells,
           round(round(sum(
             (CAST(c AS DOUBLE) / (SELECT n FROM t))
             * ln(CAST(c AS DOUBLE) * (SELECT n FROM t)
                  / (CAST(cx AS DOUBLE) * cy))
           ), 9), 4) AS mi_nats
    FROM cells
    JOIN mx ON cells.x = mx.x
    JOIN my ON cells.y = my.y
"""


@register(
    "dq_mutual_information",
    _MI_SQL,
    "mutual information I(event_type; day-of-week) in nats — the "
    "dependence screen for feature redundancy / leakage audits "
    "(chi-square's information-theoretic twin; ab_chi2_independence "
    "tests the same pair). Algebraic one-pass form sum (c/n) * "
    "ln(c*n/(cx*cy)) over the contingency cells: ONE 35-cell hash agg "
    "+ two margin aggs broadcast back — the fact table is scanned "
    "once, nothing bigger than |X|x|Y| ever shuffles. Term order is "
    "cell-level (bounded), double-round snap (9 then 4) absorbs "
    "libm/sum-order noise on both engines; identical-integer ln "
    "arguments by construction. Day-of-week uses the subtract-pmod "
    "floor-day + pmod form (the ts_seasonal_naive pattern) so negative "
    "pre-1970 epochs bucket identically on both engines",
)
def dq_mutual_information(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    cells = ev.groupBy(
        F.col("event_type").alias("x"),
        F.expr(
            "CAST(pmod((unix_micros(ts) - pmod(unix_micros(ts), "
            "86400000000)) div 86400000000, 7) AS INT)"
        ).alias("y"),
    ).agg(F.count(F.lit(1)).alias("c"))
    mx = cells.groupBy("x").agg(F.sum("c").alias("cx"))
    my = cells.groupBy("y").agg(F.sum("c").alias("cy"))
    t = cells.agg(F.sum("c").alias("n"))
    joined = (
        cells.join(F.broadcast(mx), "x")
        .join(F.broadcast(my), "y")
        .crossJoin(F.broadcast(t))
    )
    term = (F.col("c").cast("double") / F.col("n")) * F.log(
        F.col("c").cast("double")
        * F.col("n")
        / (F.col("cx").cast("double") * F.col("cy"))
    )
    return joined.agg(
        F.max("n").cast("bigint").alias("n"),
        F.count(F.lit(1)).cast("bigint").alias("n_cells"),
        F.round(F.round(F.sum(term), 9), 4).alias("mi_nats"),
    )


# ---------------------------------------------------------------------------
# dq_reconciliation
# ---------------------------------------------------------------------------

_RECON_SQL = """
    WITH li AS (
      SELECT l_orderkey,
             sum(CAST(round(l_extendedprice * 100, 0) AS BIGINT)
                 * (100 - CAST(round(l_discount * 100, 0) AS BIGINT))
                 * (100 + CAST(round(l_tax * 100, 0) AS BIGINT)))
               AS micro4
      FROM lineitem GROUP BY 1),
    d AS (
      SELECT CAST(round(o.o_totalprice * 100, 0) AS BIGINT) AS o_cents,
             CASE WHEN li.micro4 IS NULL THEN NULL
                  ELSE CAST(round(o.o_totalprice * 100, 0) AS BIGINT)
                       - CAST(li.micro4 // 10000 AS BIGINT) END AS diff
      FROM orders o LEFT JOIN li ON o.o_orderkey = li.l_orderkey),
    b AS (
      SELECT CASE WHEN diff IS NULL THEN 2
                  WHEN diff > 0 THEN 1
                  WHEN diff < 0 THEN -1 ELSE 0 END AS sign,
             CASE WHEN diff IS NULL OR diff = 0 THEN 0
                  ELSE length(CAST(abs(diff) AS VARCHAR)) END AS digits,
             coalesce(abs(diff), 0) AS ad
      FROM d)
    SELECT CAST(sign AS INT) AS sign,
           CAST(digits AS INT) AS digits,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(sum(ad) AS BIGINT) AS sum_abs_diff_cents
    FROM b GROUP BY 1, 2
"""


@register(
    "dq_reconciliation",
    _RECON_SQL,
    "cross-table financial reconciliation: per order, o_totalprice vs "
    "the lineitem-recomputed total sum(extprice * (1-disc) * (1+tax)) "
    "carried in EXACT cents x 1e4 integer units (discount/tax are "
    "integer percents in this data; floor-div back to cents on the "
    "all-positive domain where // and div agree), discrepancies "
    "bucketed by sign x decimal-digit magnitude (digit count via "
    "string length — no float log10 at bucket boundaries), orders "
    "with NO lineitems reported as sign=2. The double-entry audit "
    "every warehouse load runs; this synthetic data does not maintain "
    "the invariant, which is exactly what the report shows. Shape: "
    "ONE lineitem hash-agg + one orders join + one bucket agg",
)
def dq_reconciliation(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = (
        _t(spark, sf_dir, "lineitem")
        .groupBy("l_orderkey")
        .agg(
            F.sum(
                F.expr(
                    "CAST(round(l_extendedprice * 100, 0) AS BIGINT)"
                    " * (100 - CAST(round(l_discount * 100, 0) AS BIGINT))"
                    " * (100 + CAST(round(l_tax * 100, 0) AS BIGINT))"
                )
            ).alias("micro4")
        )
    )
    o = _t(spark, sf_dir, "orders")
    d = o.join(
        li, o["o_orderkey"] == li["l_orderkey"], "left"
    ).select(
        F.expr(
            "CASE WHEN micro4 IS NULL THEN NULL"
            " ELSE CAST(round(o_totalprice * 100, 0) AS BIGINT)"
            " - CAST(micro4 div 10000 AS BIGINT) END"
        ).alias("diff")
    )
    b = d.select(
        F.expr(
            "CASE WHEN diff IS NULL THEN 2 WHEN diff > 0 THEN 1"
            " WHEN diff < 0 THEN -1 ELSE 0 END"
        ).alias("sign"),
        F.expr(
            "CASE WHEN diff IS NULL OR diff = 0 THEN 0"
            " ELSE length(CAST(abs(diff) AS STRING)) END"
        ).alias("digits"),
        F.expr("coalesce(abs(diff), 0)").alias("ad"),
    )
    return b.groupBy(
        F.col("sign").cast("int").alias("sign"),
        F.col("digits").cast("int").alias("digits"),
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_orders"),
        F.sum("ad").cast("bigint").alias("sum_abs_diff_cents"),
    )


# ---------------------------------------------------------------------------
# dq_embedding_drift
# ---------------------------------------------------------------------------

_DRIFT_SQL = """
    WITH cells AS (
      SELECT label, CAST(i AS INT) AS pos,
             sum(CASE WHEN vec_id % 2 = 0 THEN
                   CAST(round(embedding[CAST(i + 1 AS INT)]::DOUBLE
                              * 1000000, 0) AS BIGINT) ELSE 0 END) AS se,
             sum(CASE WHEN vec_id % 2 = 1 THEN
                   CAST(round(embedding[CAST(i + 1 AS INT)]::DOUBLE
                              * 1000000, 0) AS BIGINT) ELSE 0 END) AS so,
             sum(CASE WHEN vec_id % 2 = 0 THEN 1 ELSE 0 END) AS ne,
             sum(CASE WHEN vec_id % 2 = 1 THEN 1 ELSE 0 END) AS no
      FROM embeddings, range(64) t(i)
      GROUP BY 1, 2),
    diffs AS (
      SELECT label, pos,
             CAST(se * no - so * ne AS BIGINT) AS dnum,
             CAST(ne * no AS BIGINT) AS den,
             CAST(ne AS BIGINT) AS ne, CAST(no AS BIGINT) AS no
      FROM cells WHERE ne > 0 AND no > 0)
    SELECT label,
           max(ne) AS n_even,
           max(no) AS n_odd,
           CAST(max(den) AS BIGINT) AS den,
           CAST(sum(abs(dnum)) AS BIGINT) AS l1_drift_num,
           CAST(max(abs(dnum) * 64 + 63 - pos) // 64 AS BIGINT)
             AS max_abs_diff_num,
           CAST(63 - max(abs(dnum) * 64 + 63 - pos) % 64 AS INT)
             AS max_dim
    FROM diffs GROUP BY label
"""


@register(
    "dq_embedding_drift",
    _DRIFT_SQL,
    "per-label centroid drift between the vec_id-parity halves of the "
    "embedding table, EXACT integer rationals end-to-end (micro-unit "
    "coordinate quantization; per-dimension centroid difference kept "
    "as numerator se*n_odd - so*n_even over the common denominator "
    "n_even*n_odd — no float division anywhere): L1 drift numerator, "
    "max per-dimension drift, and WHICH dimension drifted most "
    "(argmax packed as max(|d|*64 + 63-pos), ties -> lowest dim) — "
    "the training/serving skew screen run before any cosine-based "
    "dedup/ANN trusts two embedding snapshots. Shape: posexplode -> "
    "ONE (label, dim) hash-agg (map-side combinable, |labels| x 64 "
    "cells) -> one label agg. At 1e12-row scale lift se*no to "
    "DECIMAL(38,0); the synthetic domain stays far below int64",
)
def dq_embedding_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    cells = (
        emb.select(
            "label",
            (F.col("vec_id") % 2).alias("half"),
            F.posexplode(
                F.transform(
                    F.col("embedding").cast("array<double>"),
                    lambda x: F.round(x * 1000000, 0).cast("long"),
                )
            ).alias("pos", "q"),
        )
        .groupBy("label", "pos")
        .agg(
            F.sum(F.when(F.col("half") == 0, F.col("q")).otherwise(0)).alias(
                "se"
            ),
            F.sum(F.when(F.col("half") == 1, F.col("q")).otherwise(0)).alias(
                "so"
            ),
            F.sum(F.when(F.col("half") == 0, 1).otherwise(0)).alias("ne"),
            F.sum(F.when(F.col("half") == 1, 1).otherwise(0)).alias("no"),
        )
    )
    diffs = cells.filter((F.col("ne") > 0) & (F.col("no") > 0)).select(
        "label",
        "pos",
        F.expr("CAST(se * no - so * ne AS BIGINT)").alias("dnum"),
        F.expr("CAST(ne * no AS BIGINT)").alias("den"),
        F.col("ne").cast("bigint").alias("ne"),
        F.col("no").cast("bigint").alias("no"),
    )
    return diffs.groupBy("label").agg(
        F.max("ne").alias("n_even"),
        F.max("no").alias("n_odd"),
        F.max("den").cast("bigint").alias("den"),
        F.sum(F.abs(F.col("dnum"))).cast("bigint").alias("l1_drift_num"),
        F.expr(
            "CAST(max(abs(dnum) * 64 + 63 - pos) div 64 AS BIGINT)"
        ).alias("max_abs_diff_num"),
        F.expr(
            "CAST(63 - max(abs(dnum) * 64 + 63 - pos) % 64 AS INT)"
        ).alias("max_dim"),
    )


# ---------------------------------------------------------------------------
# dq_contamination
# ---------------------------------------------------------------------------


def _contamination_sql() -> str:
    from jigsaw_spark.operators.text import shingles_sql, tokens_sql

    return f"""
    WITH split AS (
      SELECT doc_id, text,
             CAST(CAST(('0x' || substr(md5('contam|'
               || CAST(doc_id AS VARCHAR)), 1, 12)) AS UBIGINT)
               % CAST(20 AS UBIGINT) AS BIGINT) = 0 AS is_holdout
      FROM documents),
    toks AS (
      SELECT doc_id, is_holdout, {tokens_sql('text')} AS t FROM split),
    sh AS (
      SELECT doc_id, is_holdout, unnest({shingles_sql('t', 8)}) AS sh
      FROM toks),
    train_sh AS MATERIALIZED (
      SELECT DISTINCT sh FROM sh WHERE NOT is_holdout),
    hold_sh AS (
      SELECT DISTINCT doc_id, sh FROM sh WHERE is_holdout),
    hits AS (
      SELECT h.doc_id,
             CAST(count(*) AS BIGINT) AS n_shingles,
             CAST(count(t.sh) AS BIGINT) AS n_contaminated
      FROM hold_sh h LEFT JOIN train_sh t ON h.sh = t.sh
      GROUP BY 1)
    SELECT s.doc_id,
           CAST(coalesce(h.n_shingles, 0) AS BIGINT) AS n_shingles,
           CAST(coalesce(h.n_contaminated, 0) AS BIGINT) AS n_contaminated,
           CAST(CASE WHEN coalesce(h.n_shingles, 0) = 0 THEN 0
                ELSE h.n_contaminated * 1000 // h.n_shingles END AS BIGINT)
             AS contam_milli
    FROM split s LEFT JOIN hits h ON s.doc_id = h.doc_id
    WHERE s.is_holdout
"""


@register(
    "dq_contamination",
    _contamination_sql(),
    "test-set contamination report: per holdout document (5% md5-keyed "
    "split — the engine's universal sampler discipline, so the split "
    "is reproducible everywhere), the fraction of its DISTINCT 8-gram "
    "token shingles that appear anywhere in the train split — the "
    "GPT-3/C4-style n-gram-collision decontamination audit run before "
    "any eval is trusted (dedup_source_overlap's machinery pointed at "
    "a holdout/train split instead of source pairs). Docs shorter "
    "than 8 tokens surface with zero shingles rather than vanishing. "
    "Shape: one explode -> per-side DISTINCT shingle hash-aggs -> one "
    "equi-join of the (small) holdout shingle set against the train "
    "set on the shingle key — no pair enumeration, no caps needed; "
    "at 100 TB the train set is the big side and the join is a "
    "standard shuffle join on a high-cardinality key",
)
def dq_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    from jigsaw_spark.operators.text import shingles_expr, tokens_expr
    from jigsaw_spark.session import widen

    # widen BEFORE the 8-gram explode: a dense single parquet file
    # arrives as ONE partition locally and the shingle kernel serializes
    # on one core (measured 31 s -> ~2 s at sf0.1; at 100 TB the scan
    # supplies width and this no-ops via the partition-count guard)
    docs = widen(_t(spark, sf_dir, "documents"))
    split = docs.select(
        "doc_id",
        "text",
        _holdout_col().alias("is_holdout"),
    )
    # ONE (sh) hash-agg (holdout-doc set + train-presence per distinct
    # gram), exploded back and re-aggregated per doc — replaces the two
    # distinct shuffles and the gram-keyed join (guide §2.4); the
    # explode enumerates exactly the distinct (holdout doc, gram) pairs
    sh = split.select(
        "doc_id",
        "is_holdout",
        F.explode(shingles_expr(tokens_expr("text"), 8)).alias("sh"),
    )
    hits = (
        sh.groupBy("sh")
        .agg(
            F.collect_set(
                F.when(F.col("is_holdout"), F.col("doc_id"))
            ).alias("hd"),
            F.max(F.when(~F.col("is_holdout"), 1).otherwise(0)).alias(
                "ht"
            ),
        )
        .select("ht", F.explode("hd").alias("doc_id"))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_shingles"),
            F.sum("ht").cast("bigint").alias("n_contaminated"),
        )
    )
    return (
        split.filter(F.col("is_holdout"))
        .select("doc_id")
        .join(hits, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_shingles", F.lit(0)).cast("bigint").alias(
                "n_shingles"
            ),
            F.coalesce("n_contaminated", F.lit(0))
            .cast("bigint")
            .alias("n_contaminated"),
            F.expr(
                "CAST(CASE WHEN coalesce(n_shingles, 0) = 0 THEN 0"
                " ELSE n_contaminated * 1000 div n_shingles END AS BIGINT)"
            ).alias("contam_milli"),
        )
    )


# ---------------------------------------------------------------------------
# dq_split_user_leakage
# ---------------------------------------------------------------------------

_LEAKAGE_SQL = """
    WITH days AS (
      SELECT user_id,
             epoch_us(ts) // 86400000000 AS day
      FROM events),
    cut AS MATERIALIZED (
      SELECT min(day) + (max(day) - min(day)) * 8 // 10 AS cut_day
      FROM days),
    train_u AS MATERIALIZED (
      SELECT DISTINCT user_id FROM days
      WHERE day <= (SELECT cut_day FROM cut)),
    eval_rows AS (
      SELECT d.user_id,
             CASE WHEN t.user_id IS NOT NULL THEN 1 ELSE 0 END AS seen
      FROM days d LEFT JOIN train_u t ON d.user_id = t.user_id
      WHERE d.day > (SELECT cut_day FROM cut)),
    eval_u AS (
      SELECT user_id, max(seen) AS seen, count(*) AS n_ev
      FROM eval_rows GROUP BY 1)
    SELECT CAST((SELECT cut_day FROM cut) AS BIGINT) AS cut_day,
           CAST((SELECT count(*) FROM train_u) AS BIGINT) AS train_users,
           CAST(count(*) AS BIGINT) AS eval_users,
           CAST(sum(seen) AS BIGINT) AS leaked_users,
           CAST(sum(seen) * 1000 // count(*) AS BIGINT)
             AS leaked_user_milli,
           CAST(sum(n_ev) AS BIGINT) AS eval_events,
           CAST(sum(seen * n_ev) AS BIGINT) AS leaked_events,
           CAST(sum(seen * n_ev) * 1000 // sum(n_ev) AS BIGINT)
             AS leaked_event_milli
    FROM eval_u
"""


@register(
    "dq_split_user_leakage",
    _LEAKAGE_SQL,
    "audit of a NAIVE temporal split: cut the day span at its 80% "
    "point (train <= cut < eval) and report how many eval users also "
    "appear in train plus the share of eval events those seen users "
    "contribute — the measurement that motivates the group-aware "
    "splitters (p_leakage_safe_split, p_group_kfold): a user-level "
    "model evaluated on its own training users reports inflated "
    "metrics, and this is how much of the eval set is compromised. "
    "The cut is domain-based (min + span*8 div 10), exact integers "
    "throughout. Shape: one day-grain projection, two DISTINCT "
    "hash-aggs, one user-keyed left join — never a pair join; at "
    "100 TB this is two shuffles on user_id",
)
def dq_split_user_leakage(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    days = ev.select(
        "user_id", F.expr("unix_micros(ts) div 86400000000").alias("day")
    )
    cut = days.agg(
        (
            F.min("day") + F.expr("(max(day) - min(day)) * 8 div 10")
        ).alias("cut_day")
    )
    with_cut = days.crossJoin(F.broadcast(cut))
    train_u = (
        with_cut.filter(F.col("day") <= F.col("cut_day"))
        .select("user_id")
        .distinct()
    )
    n_train = train_u.agg(
        F.count(F.lit(1)).cast("bigint").alias("train_users")
    )
    eval_rows = with_cut.filter(F.col("day") > F.col("cut_day")).join(
        train_u.select(F.col("user_id").alias("tu")),
        F.col("user_id") == F.col("tu"),
        "left",
    )
    eval_u = eval_rows.groupBy("user_id").agg(
        F.max(
            F.when(F.col("tu").isNotNull(), 1).otherwise(0)
        ).alias("seen"),
        F.count(F.lit(1)).alias("n_ev"),
    )
    return (
        eval_u.agg(
            F.count(F.lit(1)).cast("bigint").alias("eval_users"),
            F.sum("seen").cast("bigint").alias("leaked_users"),
            F.expr(
                "CAST(sum(seen) * 1000 div count(*) AS BIGINT)"
            ).alias("leaked_user_milli"),
            F.sum("n_ev").cast("bigint").alias("eval_events"),
            F.sum(F.col("seen") * F.col("n_ev"))
            .cast("bigint")
            .alias("leaked_events"),
            F.expr(
                "CAST(sum(seen * n_ev) * 1000 div sum(n_ev) AS BIGINT)"
            ).alias("leaked_event_milli"),
        )
        .crossJoin(F.broadcast(cut))
        .crossJoin(F.broadcast(n_train))
        .select(
            F.col("cut_day").cast("bigint").alias("cut_day"),
            "train_users",
            "eval_users",
            "leaked_users",
            "leaked_user_milli",
            "eval_events",
            "leaked_events",
            "leaked_event_milli",
        )
    )


# ---------------------------------------------------------------------------
# dq_contamination_semantic
# ---------------------------------------------------------------------------

_SEM_COS = "round(list_cosine_similarity({a}::DOUBLE[], {b}::DOUBLE[]), 9)"

_SEM_CONTAM_SQL = f"""
    WITH cent AS (
      SELECT vec_id AS cid, embedding::DOUBLE[] AS cvec
      FROM embeddings WHERE vec_id < 8
    ), assign AS (
      SELECT vec_id, cid AS cell FROM (
        SELECT e.vec_id, c.cid,
               row_number() OVER (PARTITION BY e.vec_id
                 ORDER BY {_SEM_COS.format(a='e.embedding', b='c.cvec')}
                   DESC, c.cid) AS rn
        FROM embeddings e CROSS JOIN cent c
        WHERE e.vec_id % 20 <> 7) t
      WHERE rn = 1
    ), probes AS (
      SELECT query_id, cell FROM (
        SELECT q.vec_id AS query_id, c.cid AS cell,
               row_number() OVER (PARTITION BY q.vec_id
                 ORDER BY {_SEM_COS.format(a='q.embedding', b='c.cvec')}
                   DESC, c.cid) AS rn
        FROM embeddings q CROSS JOIN cent c
        WHERE q.vec_id % 20 = 7) t
      WHERE rn <= 2
    ), contam AS (
      SELECT DISTINCT p.query_id
      FROM probes p
      JOIN assign a ON a.cell = p.cell
      JOIN embeddings q ON q.vec_id = p.query_id
      JOIN embeddings e ON e.vec_id = a.vec_id
      WHERE {_SEM_COS.format(a='q.embedding', b='e.embedding')} >= 0.3
    ), hold AS (
      SELECT vec_id, label FROM embeddings WHERE vec_id % 20 = 7)
    SELECT CAST(h.label AS INT) AS label,
           CAST(count(*) AS BIGINT) AS n_holdout,
           CAST(count(c.query_id) AS BIGINT) AS n_contam,
           CAST(count(c.query_id) * 1000 // count(*) AS BIGINT)
             AS contam_milli
    FROM hold h LEFT JOIN contam c ON h.vec_id = c.query_id
    GROUP BY 1
"""


@register(
    "dq_contamination_semantic",
    _SEM_CONTAM_SQL,
    "embedding-space test-set contamination: a holdout vector "
    "(vec_id % 20 = 7 — disjoint from the eval panel convention) is "
    "contaminated when any TRAIN vector in its 2 probed IVF cells "
    "(8-seed codebook, the ANN family convention) has round-9 cosine "
    ">= 0.3; per label: holdout count, contaminated count, rate in "
    "milli. The semantic companion of dq_contamination's 8-gram rule "
    "— paraphrased or near-translated leakage shares no 8-gram but "
    "lands in the same embedding cell (SemDeDup's observation applied "
    "to the holdout/train boundary). Recall follows the IVF tradeoff "
    "and is fully deterministic, so the oracle replicates the cell "
    "restriction exactly. Shape: the ivf_range_search plan — map-only "
    "cell assignment, broadcast codebook + probe list, ONE cell "
    "equi-join with the threshold as a map-side predicate (no rank "
    "window anywhere), corpus scanned once and never shuffled",
)
def dq_contamination_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    from jigsaw_spark.operators.similarity import ivf_range_search

    emb = _t(spark, sf_dir, "embeddings")
    hold = emb.filter(F.pmod(F.col("vec_id"), F.lit(20)) == 7)
    train = emb.filter(F.pmod(F.col("vec_id"), F.lit(20)) != 7)
    centroids = [
        (r["vec_id"], list(r["embedding"]))
        for r in emb.filter(F.col("vec_id") < 8).collect()
    ]
    contam = (
        ivf_range_search(train, hold, centroids, threshold=0.3, nprobe=2)
        .select("query_id")
        .distinct()
    )
    return (
        hold.select("vec_id", "label")
        .join(contam, hold["vec_id"] == contam["query_id"], "left")
        .groupBy(F.col("label").cast("int").alias("label"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_holdout"),
            F.count("query_id").cast("bigint").alias("n_contam"),
            F.expr(
                "CAST(count(query_id) * 1000 div count(1) AS BIGINT)"
            ).alias("contam_milli"),
        )
    )


# ---------------------------------------------------------------------------
# dq_decontam_skipgram
# ---------------------------------------------------------------------------

_DECON_N = 13

_DECON_MOD = 25


def _decontam_skipgram_sql() -> str:
    from jigsaw_spark.operators.text import (
        shingles_sql,
        skip_shingles_sql,
        tokens_sql,
    )

    return f"""
    WITH split AS (
      SELECT doc_id, source, text,
             CAST(CAST(('0x' || substr(md5('decon|'
               || CAST(doc_id AS VARCHAR)), 1, 12)) AS UBIGINT)
               % CAST({_DECON_MOD} AS UBIGINT) AS BIGINT) = 0 AS is_eval
      FROM documents),
    toks AS (
      SELECT doc_id, source, is_eval, {tokens_sql('text')} AS t
      FROM split),
    ex AS (
      SELECT doc_id, is_eval, unnest({shingles_sql('t', _DECON_N)}) AS g
      FROM toks),
    sk AS (
      SELECT doc_id, is_eval,
             unnest({skip_shingles_sql('t', _DECON_N)}) AS g
      FROM toks),
    train_ex AS MATERIALIZED (
      SELECT DISTINCT g FROM ex WHERE NOT is_eval),
    train_sk AS MATERIALIZED (
      SELECT DISTINCT g FROM sk WHERE NOT is_eval),
    hit_ex AS (
      SELECT DISTINCT e.doc_id
      FROM ex e JOIN train_ex t ON e.g = t.g WHERE e.is_eval),
    hit_sk AS (
      SELECT DISTINCT s.doc_id
      FROM sk s JOIN train_sk t ON s.g = t.g WHERE s.is_eval)
    SELECT s.source,
           CAST(count(*) AS BIGINT) AS n_eval,
           CAST(count(x.doc_id) AS BIGINT) AS n_exact_hit,
           CAST(count(k.doc_id) AS BIGINT) AS n_skip_hit,
           CAST(sum(CASE WHEN k.doc_id IS NOT NULL
                         AND x.doc_id IS NULL THEN 1 ELSE 0 END)
             AS BIGINT) AS n_skip_only,
           CAST(sum(CASE WHEN x.doc_id IS NOT NULL
                         OR k.doc_id IS NOT NULL THEN 1 ELSE 0 END)
             * 1000 // count(*) AS BIGINT) AS flagged_milli
    FROM split s
    LEFT JOIN hit_ex x ON s.doc_id = x.doc_id
    LEFT JOIN hit_sk k ON s.doc_id = k.doc_id
    WHERE s.is_eval
    GROUP BY 1
"""


@register(
    "dq_decontam_skipgram",
    _decontam_skipgram_sql(),
    "LM-eval decontamination with skip tolerance: a 4% md5-keyed eval "
    "split is checked against the train split on TWO gram families — "
    "exact 13-gram token shingles, and skip keys (every 14-token "
    "window with the middle token deleted, the '#' slot), so a "
    "one-token edit inside the window still collides. Per source: "
    "eval docs, exact-hit docs, skip-hit docs, skip-ONLY docs (the "
    "near-miss leakage the exact rule cannot see — a date changed, a "
    "name swapped) and the any-hit rate in milli. The "
    "PaLM/GPT-4-style 13-gram sweep next to dq_contamination's "
    "8-gram per-doc report. Docs under 13/14 tokens carry no keys "
    "and surface unflagged by definition. Shape: two distinct-gram "
    "hash-aggs per side joined on the gram key — no pair "
    "enumeration; the skip family only doubles the gram volume and "
    "both joins are standard shuffle joins on high-cardinality keys",
)
def dq_decontam_skipgram(spark: SparkSession, sf_dir: str) -> DataFrame:
    from jigsaw_spark.operators.text import (
        shingles_expr,
        skip_shingles_expr,
        tokens_expr,
    )
    from jigsaw_spark.session import widen

    docs = widen(_t(spark, sf_dir, "documents"))
    split = docs.select(
        "doc_id",
        "source",
        tokens_expr("text").alias("t"),
        (
            F.pmod(
                det_hash("doc_id", seed="decon", chars=12), F.lit(_DECON_MOD)
            )
            == 0
        ).alias("is_eval"),
    )
    ex = split.select(
        "doc_id",
        "is_eval",
        F.explode(shingles_expr("t", _DECON_N)).alias("g"),
    )
    sk = split.select(
        "doc_id",
        "is_eval",
        F.explode(skip_shingles_expr("t", _DECON_N)).alias("g"),
    )

    def hits(grams):
        train = grams.filter(~F.col("is_eval")).select("g").distinct()
        return (
            grams.filter(F.col("is_eval"))
            .select("doc_id", "g")
            .distinct()
            .join(train, "g")
            .select("doc_id")
            .distinct()
        )

    hit_ex = hits(ex).withColumnRenamed("doc_id", "xid")
    hit_sk = hits(sk).withColumnRenamed("doc_id", "kid")
    return (
        split.filter(F.col("is_eval"))
        .select("doc_id", "source")
        .join(hit_ex, F.col("doc_id") == F.col("xid"), "left")
        .join(hit_sk, F.col("doc_id") == F.col("kid"), "left")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_eval"),
            F.count("xid").cast("bigint").alias("n_exact_hit"),
            F.count("kid").cast("bigint").alias("n_skip_hit"),
            F.sum(
                F.when(
                    F.col("kid").isNotNull() & F.col("xid").isNull(), 1
                ).otherwise(0)
            )
            .cast("bigint")
            .alias("n_skip_only"),
            F.expr(
                "CAST(sum(CASE WHEN xid IS NOT NULL OR kid IS NOT NULL"
                " THEN 1 ELSE 0 END) * 1000 div count(1) AS BIGINT)"
            ).alias("flagged_milli"),
        )
    )


# ---------------------------------------------------------------------------
# dq_label_conflict
# ---------------------------------------------------------------------------


def _label_conflict_sql() -> str:
    from jigsaw_spark.operators.text import fingerprint_sql, tokens_sql

    return f"""
    WITH fpt AS (
      SELECT doc_id, lang, source,
             {fingerprint_sql(tokens_sql('text'))} AS fp
      FROM documents),
    grp AS (
      SELECT fp,
             CAST(count(*) AS BIGINT) AS n_docs,
             CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
             CAST(count(DISTINCT source) AS BIGINT) AS n_sources
      FROM fpt GROUP BY 1),
    multi AS (SELECT * FROM grp WHERE n_docs > 1)
    SELECT CAST(count(*) AS BIGINT) AS n_multi_groups,
           CAST(coalesce(sum(n_docs), 0) AS BIGINT) AS n_docs_in_groups,
           CAST(coalesce(sum(CASE WHEN n_langs > 1 THEN 1 ELSE 0 END), 0)
             AS BIGINT) AS n_lang_conflict_groups,
           CAST(coalesce(sum(CASE WHEN n_sources > 1 THEN 1 ELSE 0 END),
             0) AS BIGINT) AS n_source_conflict_groups,
           CAST(coalesce(sum(CASE WHEN n_langs > 1 THEN n_docs
             ELSE 0 END), 0) AS BIGINT) AS n_docs_lang_conflict,
           CAST(CASE WHEN count(*) = 0 THEN 0
             ELSE sum(CASE WHEN n_langs > 1 OR n_sources > 1
                      THEN 1 ELSE 0 END) * 1000 // count(*) END
             AS BIGINT) AS conflict_milli
    FROM multi
"""


@register(
    "dq_label_conflict",
    _label_conflict_sql(),
    "label-conflict audit over EXACT duplicates: groups sharing the "
    "exact_dedup normalization fingerprint whose members disagree on "
    "lang or source — byte-identical content carrying different "
    "labels is annotation noise made visible (a language classifier "
    "flapped between crawls, or two ingests tagged one page "
    "differently), and it is the cheapest label-noise probe there is "
    "because the pairs are FREE (the dedup pass already groups them; "
    "ml_confident_learning estimates noise from model scores, this "
    "measures one slice of it exactly). One-row report: multi-doc "
    "groups, per-axis conflicted groups, docs in lang-conflicted "
    "groups, any-axis conflict rate in milli. Shape: ONE fingerprint "
    "hash-agg (two distinct-counts ride the same shuffle) then a "
    "1-row rollup; no joins, no windows, no pair enumeration",
)
def dq_label_conflict(spark: SparkSession, sf_dir: str) -> DataFrame:
    from jigsaw_spark.operators.text import fingerprint_expr, tokens_expr

    docs = _t(spark, sf_dir, "documents")
    fpt = docs.select(
        "doc_id",
        "lang",
        "source",
        fingerprint_expr(tokens_expr("text")).alias("fp"),
    )
    grp = fpt.groupBy("fp").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.countDistinct("lang").cast("bigint").alias("n_langs"),
        F.countDistinct("source").cast("bigint").alias("n_sources"),
    )
    multi = grp.filter(F.col("n_docs") > 1)
    return multi.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_multi_groups"),
        F.coalesce(F.sum("n_docs"), F.lit(0))
        .cast("bigint")
        .alias("n_docs_in_groups"),
        F.coalesce(
            F.sum(F.when(F.col("n_langs") > 1, 1).otherwise(0)), F.lit(0)
        )
        .cast("bigint")
        .alias("n_lang_conflict_groups"),
        F.coalesce(
            F.sum(F.when(F.col("n_sources") > 1, 1).otherwise(0)), F.lit(0)
        )
        .cast("bigint")
        .alias("n_source_conflict_groups"),
        F.coalesce(
            F.sum(
                F.when(F.col("n_langs") > 1, F.col("n_docs")).otherwise(0)
            ),
            F.lit(0),
        )
        .cast("bigint")
        .alias("n_docs_lang_conflict"),
        F.expr(
            "CAST(CASE WHEN count(1) = 0 THEN 0"
            " ELSE sum(CASE WHEN n_langs > 1 OR n_sources > 1"
            " THEN 1 ELSE 0 END) * 1000 div count(1) END AS BIGINT)"
        ).alias("conflict_milli"),
    )


# ---------------------------------------------------------------------------
# dq_dup_rate_trend
# ---------------------------------------------------------------------------


def _dup_trend_sql() -> str:
    from jigsaw_spark.operators.text import fingerprint_sql, tokens_sql

    return f"""
    WITH fpt AS (
      SELECT doc_id, {fingerprint_sql(tokens_sql('text'))} AS fp
      FROM documents),
    bounds AS MATERIALIZED (
      SELECT min(doc_id) AS lo, max(doc_id) AS hi FROM documents),
    marked AS (
      SELECT doc_id,
             doc_id > min(doc_id) OVER (PARTITION BY fp) AS is_dup,
             least((doc_id - (SELECT lo FROM bounds)) * 10
               // ((SELECT hi - lo FROM bounds) + 1), 9) AS decile
      FROM fpt),
    d AS (
      SELECT decile,
             CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(CASE WHEN is_dup THEN 1 ELSE 0 END) AS BIGINT)
               AS n_dups
      FROM marked GROUP BY 1),
    dim AS (SELECT unnest(range(10)) AS decile)
    SELECT CAST(dim.decile AS INT) AS decile,
           CAST(coalesce(d.n_docs, 0) AS BIGINT) AS n_docs,
           CAST(coalesce(d.n_dups, 0) AS BIGINT) AS n_dups,
           CAST(CASE WHEN coalesce(d.n_docs, 0) = 0 THEN 0
             ELSE d.n_dups * 1000 // d.n_docs END AS BIGINT) AS dup_milli
    FROM dim LEFT JOIN d ON dim.decile = d.decile
"""


@register(
    "dq_dup_rate_trend",
    _dup_trend_sql(),
    "exact-duplicate rate by doc_id-range decile: a doc is a dup when "
    "an earlier doc_id shares its exact_dedup fingerprint; deciles "
    "cut the doc_id VALUE range (the text_vocab_growth convention — "
    "two broadcast bounds, a map-side expression, NO global rank) — "
    "the is-the-crawl-getting-dirtier trend: a rising dup share "
    "across ingestion time is the earliest recycled-content signal, "
    "and read next to text_vocab_growth's flattening type curve it "
    "separates template pollution from vocabulary exhaustion. Empty "
    "deciles report 0 by convention. Shape: one fingerprint hash-agg "
    "with a min-per-fp window (the exact_dedup shuffle), a 1-row "
    "bounds broadcast, then a 10-row decile dim rollup",
)
def dq_dup_rate_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    from jigsaw_spark.operators.text import fingerprint_expr, tokens_expr

    docs = _t(spark, sf_dir, "documents")
    fpt = docs.select(
        "doc_id", fingerprint_expr(tokens_expr("text")).alias("fp")
    )
    bounds = docs.agg(
        F.min("doc_id").alias("lo"), F.max("doc_id").alias("hi")
    )
    w = Window.partitionBy("fp")
    marked = (
        fpt.withColumn("is_dup", F.col("doc_id") > F.min("doc_id").over(w))
        .crossJoin(F.broadcast(bounds))
        .select(
            F.expr(
                "least((doc_id - lo) * 10 div (hi - lo + 1), 9)"
            ).alias("decile"),
            "is_dup",
        )
    )
    d = marked.groupBy("decile").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum(F.when(F.col("is_dup"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_dups"),
    )
    dim = spark.range(10).select(F.col("id").cast("bigint").alias("decile"))
    return (
        F.broadcast(dim)
        .join(d, "decile", "left")
        .select(
            F.col("decile").cast("int").alias("decile"),
            F.coalesce("n_docs", F.lit(0)).cast("bigint").alias("n_docs"),
            F.coalesce("n_dups", F.lit(0)).cast("bigint").alias("n_dups"),
            F.expr(
                "CAST(CASE WHEN coalesce(n_docs, 0) = 0 THEN 0"
                " ELSE n_dups * 1000 div n_docs END AS BIGINT)"
            ).alias("dup_milli"),
        )
    )


# ---------------------------------------------------------------------------
# dq_contamination_by_source
# ---------------------------------------------------------------------------


def _contam_by_source_sql() -> str:
    from jigsaw_spark.operators.text import shingles_sql, tokens_sql

    return f"""
    WITH split AS (
      SELECT doc_id, source, text,
             CAST(CAST(('0x' || substr(md5('contam|'
               || CAST(doc_id AS VARCHAR)), 1, 12)) AS UBIGINT)
               % CAST(20 AS UBIGINT) AS BIGINT) = 0 AS is_holdout
      FROM documents),
    toks AS (
      SELECT doc_id, source, is_holdout, {tokens_sql('text')} AS t
      FROM split),
    sh AS (
      SELECT doc_id, source, is_holdout, unnest({shingles_sql('t', 8)}) AS sh
      FROM toks),
    hold_sh AS MATERIALIZED (
      SELECT DISTINCT sh FROM sh WHERE is_holdout),
    hold_doc_sh AS MATERIALIZED (
      SELECT DISTINCT doc_id, sh FROM sh WHERE is_holdout),
    nh AS (SELECT CAST(count(*) AS BIGINT) AS n_hold FROM hold_sh),
    train_src AS MATERIALIZED (
      SELECT DISTINCT source, sh FROM sh WHERE NOT is_holdout),
    hits AS MATERIALIZED (
      SELECT t.source, t.sh
      FROM train_src t JOIN hold_sh h ON t.sh = h.sh),
    multi AS (
      SELECT sh, CAST(count(*) AS BIGINT) AS ns FROM hits GROUP BY 1),
    per_sh AS (
      SELECT h.source,
             CAST(count(*) AS BIGINT) AS n_hit,
             CAST(sum(CASE WHEN m.ns = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_sole
      FROM hits h JOIN multi m ON h.sh = m.sh GROUP BY 1),
    touched AS (
      SELECT h.source, CAST(count(DISTINCT d.doc_id) AS BIGINT) AS n_docs
      FROM hits h JOIN hold_doc_sh d ON h.sh = d.sh GROUP BY 1),
    srcs AS (SELECT DISTINCT source FROM split WHERE NOT is_holdout)
    SELECT s.source,
           CAST(coalesce(p.n_hit, 0) AS BIGINT) AS n_hit_shingles,
           CAST(coalesce(p.n_sole, 0) AS BIGINT) AS n_sole_shingles,
           CAST(coalesce(tc.n_docs, 0) AS BIGINT) AS n_holdout_docs,
           CAST(CASE WHEN (SELECT n_hold FROM nh) = 0 THEN 0
             ELSE coalesce(p.n_hit, 0) * 1000 // (SELECT n_hold FROM nh)
             END AS BIGINT) AS hit_share_milli
    FROM srcs s
    LEFT JOIN per_sh p ON s.source = p.source
    LEFT JOIN touched tc ON s.source = tc.source
"""


@register(
    "dq_contamination_by_source",
    _contam_by_source_sql(),
    "per-source contamination attribution (verdict r10 #4): which train "
    "SOURCE leaks into the holdout — dq_contamination scores each "
    "holdout doc, this inverts it: per train source, distinct holdout "
    "8-grams covered, SOLE-leaker grams (the ones that vanish if the "
    "source is dropped — the decontamination decision variable), "
    "holdout docs touched, and the milli share of all contaminated "
    "holdout grams. Same 'contam|' md5 5% split as dq_contamination, "
    "so both reports describe one experiment. Shape: the certified "
    "contamination join with the train side keyed (source, shingle) — "
    "hash-aggs plus one shingle-keyed equi-join, no pair enumeration; "
    "the sole-leaker count is a gram-keyed count join, not a window",
)
def dq_contamination_by_source(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from jigsaw_spark.operators.text import shingles_expr, tokens_expr
    from jigsaw_spark.session import widen

    docs = widen(_t(spark, sf_dir, "documents"))
    split = docs.select(
        "doc_id",
        "source",
        "text",
        _holdout_col().alias("is_holdout"),
    )
    # checkpoint the TOKENIZED rows, not the 8-gram explode: the explode
    # is ~|tokens| rows (x8 text volume) and materializing it at 100 TB
    # is a storage cliff — the three consumers below re-derive it from
    # the (much smaller) token arrays instead, the dq_contamination
    # discipline
    toks = split.select(
        "doc_id",
        "source",
        "is_holdout",
        tokens_expr("text").alias("t"),
    ).localCheckpoint()
    sh = toks.select(
        "doc_id",
        "source",
        "is_holdout",
        F.explode(shingles_expr("t", 8)).alias("sh"),
    )
    hold_sh = (
        sh.filter(F.col("is_holdout")).select("sh").distinct()
    ).localCheckpoint()
    hold_doc_sh = (
        sh.filter(F.col("is_holdout")).select("doc_id", "sh").distinct()
    )
    nh = hold_sh.agg(F.count(F.lit(1)).cast("bigint").alias("n_hold"))
    train_src = (
        sh.filter(~F.col("is_holdout")).select("source", "sh").distinct()
    )
    hits = train_src.join(hold_sh, "sh").localCheckpoint()
    multi = hits.groupBy("sh").agg(
        F.count(F.lit(1)).cast("bigint").alias("ns")
    )
    per_sh = (
        hits.join(multi, "sh")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_hit"),
            F.sum(F.when(F.col("ns") == 1, 1).otherwise(0))
            .cast("bigint")
            .alias("n_sole"),
        )
    )
    touched = (
        hits.select("source", "sh")
        .join(hold_doc_sh, "sh")
        .select("source", "doc_id")
        .distinct()
        .groupBy("source")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"))
    )
    srcs = (
        split.filter(~F.col("is_holdout")).select("source").distinct()
    )
    return (
        srcs.join(per_sh, "source", "left")
        .join(touched, "source", "left")
        .crossJoin(F.broadcast(nh))
        .select(
            "source",
            F.coalesce("n_hit", F.lit(0)).cast("bigint").alias(
                "n_hit_shingles"
            ),
            F.coalesce("n_sole", F.lit(0)).cast("bigint").alias(
                "n_sole_shingles"
            ),
            F.coalesce("n_docs", F.lit(0)).cast("bigint").alias(
                "n_holdout_docs"
            ),
            F.expr(
                "CAST(CASE WHEN n_hold = 0 THEN 0"
                " ELSE coalesce(n_hit, 0) * 1000 div n_hold END AS BIGINT)"
            ).alias("hit_share_milli"),
        )
    )


# dq_dedup_bias --------------------------------------------------------------


def _dedup_bias_sql() -> str:
    from jigsaw_spark.operators.text import (
        alnum_ratio_sql,
        lang_hits_sql,
        lang_predict_sql,
        tokens_sql,
    )

    return f"""
    WITH RECURSIVE {_KEEPER_COMPONENTS_CTE},
    {_keeper_cluster_cte()},
    labeled AS (
      SELECT d.doc_id, d.n_chars, d.text, c.cluster
      FROM documents d JOIN clust c ON d.doc_id = c.doc_id),
    flags AS (
      SELECT doc_id <> cluster AS is_dropped, n_chars,
             (len({tokens_sql('text')}) >= 20
              AND {alnum_ratio_sql('text')} >= 0.5 AND
              {lang_predict_sql(
                  f"CAST({lang_hits_sql(tokens_sql('text'), 'en')} AS INT)",
                  f"CAST({lang_hits_sql(tokens_sql('text'), 'es')} AS INT)",
                  f"CAST({lang_hits_sql(tokens_sql('text'), 'fr')} AS INT)",
              )} = 'en') AS passes
      FROM labeled),
    tot AS (SELECT CAST(count(*) AS BIGINT) AS n_all FROM flags)
    SELECT f.is_dropped,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(count(*) * 1000 // (SELECT n_all FROM tot) AS BIGINT)
             AS share_milli,
           CAST(sum(CASE WHEN f.passes THEN 1 ELSE 0 END) AS BIGINT)
             AS n_pass,
           CAST(sum(CASE WHEN f.passes THEN 1 ELSE 0 END) * 1000
             // count(*) AS BIGINT) AS pass_milli,
           CAST(sum(f.n_chars) // count(*) AS BIGINT) AS mean_chars
    FROM flags f GROUP BY 1
"""


@register(
    "dq_dedup_bias",
    _dedup_bias_sql(),
    "does min-id keeper selection throw away quality: every doc "
    "labeled by its near-dup cluster (near_dup_keepers: its exact "
    "keeper's keeper-graph component, min reachable id; singletons "
    "keep themselves) and dropped unless it is that min id — exact "
    "copies included — then survivors vs dropped compared on the v1 "
    "gate pass rate and mean length. NEAR-dup keepers are chosen by "
    "id, so a systematic pass-rate gap between kept and dropped is "
    "dedup-induced selection bias — the measurement that justifies "
    "dedup_exact_keep_best's keep-the-best policy at the near-dup "
    "tier. Shape: the shared cluster label -> one doc-id join -> one "
    "map-side gate projection -> a 2-row rollup",
)
def dq_dedup_bias(spark: SparkSession, sf_dir: str) -> DataFrame:
    from jigsaw_spark.operators.dedup import near_dup_keepers
    from jigsaw_spark.operators.text import (
        alnum_ratio_expr,
        lang_hits_expr,
        lang_predict_expr,
        tokens_expr,
    )

    docs = _t(spark, sf_dir, "documents")
    labeled = docs.join(near_dup_keepers(docs, "doc_id"), "doc_id").select(
        "n_chars",
        "text",
        (F.col("doc_id") != F.col("keeper")).alias("is_dropped"),
    )
    t = tokens_expr("text")
    flags = labeled.select(
        "is_dropped",
        "n_chars",
        (
            (F.size(t) >= 20)
            & (alnum_ratio_expr("text") >= 0.5)
            & (
                lang_predict_expr(
                    lang_hits_expr(t, "en"),
                    lang_hits_expr(t, "es"),
                    lang_hits_expr(t, "fr"),
                )
                == "en"
            )
        ).alias("passes"),
    )
    # n_all sums the 2-row rollup, so the labelled corpus is read once
    return (
        flags.groupBy("is_dropped")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum(F.when(F.col("passes"), 1).otherwise(0))
            .cast("bigint")
            .alias("n_pass"),
            F.sum("n_chars").cast("bigint").alias("sum_chars"),
        )
        .withColumn("n_all", F.sum("n_docs").over(Window.partitionBy()))
        .select(
            "is_dropped",
            "n_docs",
            F.expr("CAST(n_docs * 1000 div n_all AS BIGINT)").alias(
                "share_milli"
            ),
            "n_pass",
            F.expr("CAST(n_pass * 1000 div n_docs AS BIGINT)").alias(
                "pass_milli"
            ),
            F.expr("CAST(sum_chars div n_docs AS BIGINT)").alias(
                "mean_chars"
            ),
        )
    )


# dq_split_smd ---------------------------------------------------------------


def _split_smd_sql() -> str:
    from jigsaw_spark.operators.text import alnum_ratio_sql, tokens_sql

    return f"""
    WITH split AS (
      SELECT doc_id,
             CAST(n_chars AS BIGINT) AS c_chars,
             CAST(len({tokens_sql('text')}) AS BIGINT) AS c_tokens,
             CAST(round({alnum_ratio_sql('text')} * 1000, 0) AS BIGINT)
               AS c_alnum,
             CAST(CAST(('0x' || substr(md5('contam|'
               || CAST(doc_id AS VARCHAR)), 1, 12)) AS UBIGINT)
               % CAST(20 AS UBIGINT) AS BIGINT) = 0 AS is_holdout
      FROM documents),
    long AS (
      SELECT is_holdout, 'n_chars' AS covariate, c_chars AS x FROM split
      UNION ALL
      SELECT is_holdout, 'n_tokens', c_tokens FROM split
      UNION ALL
      SELECT is_holdout, 'alnum_milli', c_alnum FROM split),
    m AS (
      SELECT covariate,
             CAST(sum(CASE WHEN is_holdout THEN 0 ELSE 1 END)
               AS BIGINT) AS n_tr,
             CAST(sum(CASE WHEN is_holdout THEN 1 ELSE 0 END)
               AS BIGINT) AS n_ho,
             CAST(sum(CASE WHEN is_holdout THEN 0 ELSE x END)
               AS HUGEINT) AS s_tr,
             CAST(sum(CASE WHEN is_holdout THEN x ELSE 0 END)
               AS HUGEINT) AS s_ho,
             CAST(sum(CASE WHEN is_holdout THEN 0 ELSE x * x END)
               AS HUGEINT) AS q_tr,
             CAST(sum(CASE WHEN is_holdout THEN x * x ELSE 0 END)
               AS HUGEINT) AS q_ho
      FROM long GROUP BY 1)
    SELECT covariate, n_tr, n_ho,
           CAST(s_tr // n_tr AS BIGINT) AS mean_train,
           CAST(s_ho // n_ho AS BIGINT) AS mean_holdout,
           CAST(round(CASE
             WHEN (CAST(n_tr AS DOUBLE) * q_tr - CAST(s_tr * s_tr AS DOUBLE))
                  / (CAST(n_tr AS DOUBLE) * n_tr)
                + (CAST(n_ho AS DOUBLE) * q_ho - CAST(s_ho * s_ho AS DOUBLE))
                  / (CAST(n_ho AS DOUBLE) * n_ho) = 0 THEN 0
             ELSE abs(CAST(s_tr AS DOUBLE) / n_tr
                      - CAST(s_ho AS DOUBLE) / n_ho)
                  / sqrt((
                    (CAST(n_tr AS DOUBLE) * q_tr
                     - CAST(s_tr * s_tr AS DOUBLE))
                    / (CAST(n_tr AS DOUBLE) * n_tr)
                  + (CAST(n_ho AS DOUBLE) * q_ho
                     - CAST(s_ho * s_ho AS DOUBLE))
                    / (CAST(n_ho AS DOUBLE) * n_ho)) / 2.0)
             END * 1000, 0) AS BIGINT) AS smd_milli
    FROM m
"""


@register(
    "dq_split_smd",
    _split_smd_sql(),
    "holdout-balance audit: standardized mean difference of each doc "
    "covariate (n_chars, token count, milli alnum ratio) between the "
    "'contam' md5 train/holdout split — |mean_tr - mean_ho| / "
    "sqrt((var_tr + var_ho)/2), the covariate-balance statistic "
    "(SMD > 100 milli is the standard imbalance flag): a 5% holdout "
    "that is longer or cleaner than train measures a different "
    "population and every eval on it inherits the tilt. All moments "
    "are exact integer/HUGEINT sums; the only floats are the final "
    "variance ratio and ONE IEEE sqrt (the Welch precedent), "
    "milli-snapped on both engines. Shape: one scan into a 3-arm "
    "union, one (covariate)-keyed moment hash-agg — 3 rows out",
)
def dq_split_smd(spark: SparkSession, sf_dir: str) -> DataFrame:
    from jigsaw_spark.operators.text import alnum_ratio_expr, tokens_expr

    docs = _t(spark, sf_dir, "documents")
    split = docs.select(
        F.col("n_chars").cast("bigint").alias("c_chars"),
        F.size(tokens_expr("text")).cast("bigint").alias("c_tokens"),
        F.round(alnum_ratio_expr("text") * 1000, 0)
        .cast("bigint")
        .alias("c_alnum"),
        _holdout_col().alias("is_holdout"),
    ).localCheckpoint()

    def arm(name: str, col: str) -> DataFrame:
        return split.select(
            "is_holdout",
            F.lit(name).alias("covariate"),
            F.col(col).alias("x"),
        )

    long = (
        arm("n_chars", "c_chars")
        .unionByName(arm("n_tokens", "c_tokens"))
        .unionByName(arm("alnum_milli", "c_alnum"))
    )
    dec = "decimal(38,0)"
    m = long.groupBy("covariate").agg(
        F.sum(F.when(F.col("is_holdout"), 0).otherwise(1))
        .cast("bigint")
        .alias("n_tr"),
        F.sum(F.when(F.col("is_holdout"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_ho"),
        F.sum(
            F.when(F.col("is_holdout"), F.lit(0)).otherwise(F.col("x"))
            .cast(dec)
        ).alias("s_tr"),
        F.sum(
            F.when(F.col("is_holdout"), F.col("x")).otherwise(F.lit(0))
            .cast(dec)
        ).alias("s_ho"),
        F.sum(
            F.when(F.col("is_holdout"), F.lit(0))
            .otherwise(F.col("x") * F.col("x"))
            .cast(dec)
        ).alias("q_tr"),
        F.sum(
            F.when(F.col("is_holdout"), F.col("x") * F.col("x"))
            .otherwise(F.lit(0))
            .cast(dec)
        ).alias("q_ho"),
    )
    var_expr = (
        "(CAST(n_tr AS DOUBLE) * q_tr - CAST(s_tr * s_tr AS DOUBLE))"
        " / (CAST(n_tr AS DOUBLE) * n_tr)"
        " + (CAST(n_ho AS DOUBLE) * q_ho - CAST(s_ho * s_ho AS DOUBLE))"
        " / (CAST(n_ho AS DOUBLE) * n_ho)"
    )
    return m.select(
        "covariate",
        "n_tr",
        "n_ho",
        F.expr("CAST(s_tr div n_tr AS BIGINT)").alias("mean_train"),
        F.expr("CAST(s_ho div n_ho AS BIGINT)").alias("mean_holdout"),
        F.expr(
            f"CAST(round(CASE WHEN {var_expr} = 0 THEN 0"
            " ELSE abs(CAST(s_tr AS DOUBLE) / n_tr"
            " - CAST(s_ho AS DOUBLE) / n_ho)"
            f" / sqrt(({var_expr}) / 2.0) END * 1000, 0) AS BIGINT)"
        ).alias("smd_milli"),
    )


_NS = (4, 6, 8, 10, 13)


# ---------------------------------------------------------------------------
# dq_contamination_ngram_curve
# ---------------------------------------------------------------------------


def _contam_curve_sql() -> str:
    from jigsaw_spark.operators.text import shingles_sql, tokens_sql

    arms = []
    for n in _NS:
        arms.append(
            f"""
    hold_{n} AS (
      SELECT DISTINCT doc_id, unnest({shingles_sql('t', n)}) AS sh
      FROM toks WHERE is_holdout),
    train_{n} AS (
      SELECT DISTINCT unnest({shingles_sql('t', n)}) AS sh
      FROM toks WHERE NOT is_holdout),
    hit_{n} AS (
      SELECT h.doc_id, h.sh, t.sh IS NOT NULL AS hit
      FROM hold_{n} h LEFT JOIN train_{n} t ON h.sh = t.sh),
    row_{n} AS (
      SELECT {n} AS n,
             CAST(count(DISTINCT sh) AS BIGINT) AS n_holdout_grams,
             CAST(count(DISTINCT CASE WHEN hit THEN sh END) AS BIGINT)
               AS n_contaminated_grams,
             CAST(count(DISTINCT CASE WHEN hit THEN doc_id END)
               AS BIGINT) AS n_contaminated_docs
      FROM hit_{n})"""
        )
    unions = "\n      UNION ALL\n      ".join(
        f"SELECT * FROM row_{n}" for n in _NS
    )
    return f"""
    WITH split AS (
      SELECT doc_id, text,
             CAST(CAST(('0x' || substr(md5('contam|'
               || CAST(doc_id AS VARCHAR)), 1, 12)) AS UBIGINT)
               % CAST(20 AS UBIGINT) AS BIGINT) = 0 AS is_holdout
      FROM documents),
    toks AS MATERIALIZED (
      SELECT doc_id, is_holdout, {tokens_sql('text')} AS t FROM split),
    {','.join(arms)}
    SELECT CAST(n AS INT) AS n, n_holdout_grams, n_contaminated_grams,
           n_contaminated_docs,
           CAST(CASE WHEN n_holdout_grams = 0 THEN 0
             ELSE n_contaminated_grams * 1000 // n_holdout_grams
             END AS BIGINT) AS rate_milli
    FROM ({unions})
"""


@register(
    "dq_contamination_ngram_curve",
    _contam_curve_sql(),
    "contamination sensitivity curve: the 8-gram rule "
    "(dq_contamination) and the 13-gram skip rule "
    "(dq_decontam_skipgram) are two points of a curve — this sweeps "
    "n in {4,6,8,10,13} on the SAME 'contam' md5 split and reports "
    "per n: distinct holdout grams, train collisions, touched holdout "
    "docs, and the milli collision rate. Small n over-flags common "
    "phrases, large n under-flags; the knee is the defensible "
    "decontamination setting (dedup_shingle_sweep's economics applied "
    "to the contamination rule). Shape: ONE tokenize, ONE fused "
    "(n, gram) explode feeding a single (n, sh) hash-agg — no pair "
    "enumeration, arm count fixed at 5",
)
def dq_contamination_ngram_curve(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from jigsaw_spark.operators.text import shingles_expr, tokens_expr
    from jigsaw_spark.session import widen

    docs = widen(_t(spark, sf_dir, "documents"))
    toks = docs.select(
        "doc_id",
        _holdout_col().alias("is_holdout"),
        tokens_expr("text").alias("t"),
    ).localCheckpoint()

    # ONE fused explode for all five arms (r14, guide §2.3/§2.4): each
    # doc emits (n, gram) pairs for every arm in a single generator, so
    # the checkpointed token relation is scanned once instead of five
    # times and ONE (n, sh) hash-agg replaces the five per-arm aggs —
    # an n-gram string determines its own n (n space-joined tokens), so
    # keying by (n, sh) is exactly the per-arm distinct-gram space
    def _arm_structs(n: int):
        # single-arg lambda: a two-arg lambda would receive the array
        # INDEX as its second argument (pyspark transform arity rule)
        return F.transform(
            shingles_expr("t", n),
            lambda s: F.struct(
                F.lit(n).cast("int").alias("n"), s.alias("sh")
            ),
        )

    gram_structs = F.flatten(
        F.array(*[_arm_structs(n) for n in _NS])
    )
    g = (
        toks.select(
            "doc_id",
            "is_holdout",
            F.explode(gram_structs).alias("g"),
        )
        .select("doc_id", "is_holdout", "g.n", "g.sh")
        .groupBy("n", "sh")
        .agg(
            F.collect_set(
                F.when(F.col("is_holdout"), F.col("doc_id"))
            ).alias("hd"),
            F.max(
                F.when(~F.col("is_holdout"), 1).otherwise(0)
            ).alias("ht"),
        )
        .localCheckpoint(eager=False)
    )
    grams = g.groupBy("n").agg(
        F.sum(F.when(F.size("hd") > 0, 1).otherwise(0))
        .cast("bigint")
        .alias("n_holdout_grams"),
        F.sum(
            F.when((F.size("hd") > 0) & (F.col("ht") == 1), 1)
            .otherwise(0)
        )
        .cast("bigint")
        .alias("n_contaminated_grams"),
    )
    docs_c = (
        g.filter(F.col("ht") == 1)
        .select("n", F.explode("hd").alias("d"))
        .groupBy("n")
        .agg(
            F.count_distinct("d")
            .cast("bigint")
            .alias("n_contaminated_docs")
        )
    )
    # literal arm dim so an arm with zero grams still reports a zero
    # row (the old per-arm global aggregates always emitted one row)
    ndim = spark.createDataFrame(
        [(int(n),) for n in _NS], "n int"
    )
    out = (
        ndim.join(F.broadcast(grams), "n", "left")
        .join(F.broadcast(docs_c), "n", "left")
        .select(
            "n",
            F.coalesce("n_holdout_grams", F.lit(0))
            .cast("bigint")
            .alias("n_holdout_grams"),
            F.coalesce("n_contaminated_grams", F.lit(0))
            .cast("bigint")
            .alias("n_contaminated_grams"),
            F.coalesce("n_contaminated_docs", F.lit(0))
            .cast("bigint")
            .alias("n_contaminated_docs"),
        )
    )
    return out.select(
        "n",
        "n_holdout_grams",
        "n_contaminated_grams",
        "n_contaminated_docs",
        F.expr(
            "CAST(CASE WHEN n_holdout_grams = 0 THEN 0"
            " ELSE n_contaminated_grams * 1000 div n_holdout_grams"
            " END AS BIGINT)"
        ).alias("rate_milli"),
    )


# dq_contamination_bias ------------------------------------------------------


def _contam_bias_sql() -> str:
    from jigsaw_spark.operators.text import (
        alnum_ratio_sql,
        lang_hits_sql,
        lang_predict_sql,
        shingles_sql,
        tokens_sql,
    )

    return f"""
    WITH split AS (
      SELECT doc_id, text, n_chars,
             CAST(CAST(('0x' || substr(md5('contam|'
               || CAST(doc_id AS VARCHAR)), 1, 12)) AS UBIGINT)
               % CAST(20 AS UBIGINT) AS BIGINT) = 0 AS is_holdout
      FROM documents),
    toks AS (
      SELECT doc_id, n_chars, is_holdout, {tokens_sql('text')} AS t,
             {alnum_ratio_sql('text')} AS alnum
      FROM split),
    sh AS (
      SELECT doc_id, is_holdout, unnest({shingles_sql('t', 8)}) AS sh
      FROM toks),
    train_sh AS MATERIALIZED (
      SELECT DISTINCT sh FROM sh WHERE NOT is_holdout),
    hit_docs AS MATERIALIZED (
      SELECT DISTINCT h.doc_id
      FROM sh h JOIN train_sh t ON h.sh = t.sh
      WHERE h.is_holdout),
    flags AS (
      SELECT tk.doc_id, tk.n_chars,
             hd.doc_id IS NOT NULL AS is_contaminated,
             (len(tk.t) >= 20 AND tk.alnum >= 0.5 AND
              {lang_predict_sql(
                  f"CAST({lang_hits_sql('tk.t', 'en')} AS INT)",
                  f"CAST({lang_hits_sql('tk.t', 'es')} AS INT)",
                  f"CAST({lang_hits_sql('tk.t', 'fr')} AS INT)",
              )} = 'en') AS passes
      FROM toks tk LEFT JOIN hit_docs hd ON tk.doc_id = hd.doc_id
      WHERE tk.is_holdout),
    tot AS (SELECT CAST(count(*) AS BIGINT) AS n_hold FROM flags)
    SELECT f.is_contaminated,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(count(*) * 1000 // (SELECT n_hold FROM tot) AS BIGINT)
             AS share_milli,
           CAST(sum(CASE WHEN f.passes THEN 1 ELSE 0 END) AS BIGINT)
             AS n_pass,
           CAST(sum(CASE WHEN f.passes THEN 1 ELSE 0 END) * 1000
             // count(*) AS BIGINT) AS pass_milli,
           CAST(sum(f.n_chars) AS BIGINT) AS sum_chars,
           CAST(sum(f.n_chars) // count(*) AS BIGINT) AS mean_chars
    FROM flags f GROUP BY 1
"""


@register(
    "dq_contamination_bias",
    _contam_bias_sql(),
    "is the leak RANDOM or SELECTIVE: holdout docs split by the "
    "dq_contamination flag (>= 1 train 8-gram collision, same "
    "'contam' md5 split), per group: count, share, v1-gate pass rate, "
    "and mean length — if contaminated docs pass quality gates at a "
    "different rate or run longer than clean ones, the contamination "
    "is correlated with exactly the docs an eval keeps, and the "
    "measured metric inherits the bias (the reason decontamination "
    "is a correctness issue, not hygiene). Shape: the certified "
    "contamination join reduced to a per-doc flag (distinct "
    "doc-level semi-join), one 2-row group rollup",
)
def dq_contamination_bias(spark: SparkSession, sf_dir: str) -> DataFrame:
    from jigsaw_spark.operators.text import (
        alnum_ratio_expr,
        lang_hits_expr,
        lang_predict_expr,
        shingles_expr,
        tokens_expr,
    )
    from jigsaw_spark.session import widen

    docs = widen(_t(spark, sf_dir, "documents"))
    split = docs.select(
        "doc_id",
        "text",
        "n_chars",
        _holdout_col().alias("is_holdout"),
    )
    toks = split.select(
        "doc_id",
        "n_chars",
        "is_holdout",
        tokens_expr("text").alias("t"),
        alnum_ratio_expr("text").alias("alnum"),
    ).localCheckpoint()
    sh = toks.select(
        "doc_id",
        "is_holdout",
        F.explode(shingles_expr("t", 8)).alias("sh"),
    )
    train_sh = sh.filter(~F.col("is_holdout")).select("sh").distinct()
    hit_docs = (
        sh.filter(F.col("is_holdout"))
        .join(train_sh.select(F.col("sh").alias("tsh")),
              F.col("sh") == F.col("tsh"))
        .select("doc_id")
        .distinct()
        .withColumn("hit", F.lit(True))
    )
    flags = (
        toks.filter(F.col("is_holdout"))
        .join(hit_docs, "doc_id", "left")
        .select(
            "n_chars",
            F.coalesce("hit", F.lit(False)).alias("is_contaminated"),
            (
                (F.size("t") >= 20)
                & (F.col("alnum") >= 0.5)
                & (
                    lang_predict_expr(
                        lang_hits_expr("t", "en"),
                        lang_hits_expr("t", "es"),
                        lang_hits_expr("t", "fr"),
                    )
                    == "en"
                )
            ).alias("passes"),
        )
    )
    tot = flags.agg(F.count(F.lit(1)).cast("bigint").alias("n_hold"))
    return (
        flags.groupBy("is_contaminated")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum(F.when(F.col("passes"), 1).otherwise(0))
            .cast("bigint")
            .alias("n_pass"),
            F.sum("n_chars").cast("bigint").alias("sum_chars"),
        )
        .crossJoin(F.broadcast(tot))
        .select(
            "is_contaminated",
            "n_docs",
            F.expr("CAST(n_docs * 1000 div n_hold AS BIGINT)").alias(
                "share_milli"
            ),
            "n_pass",
            F.expr(
                "CAST(n_pass * 1000 div n_docs AS BIGINT)"
            ).alias("pass_milli"),
            "sum_chars",
            F.expr("CAST(sum_chars div n_docs AS BIGINT)").alias(
                "mean_chars"
            ),
        )
    )


# dq_near_zero_variance ------------------------------------------------------

_NZV_SQL = """
    WITH vals AS (
      SELECT 'l_quantity' AS col,
             CAST(round(l_quantity * 100, 0) AS BIGINT) AS v
      FROM lineitem
      UNION ALL
      SELECT 'l_discount', CAST(round(l_discount * 100, 0) AS BIGINT)
      FROM lineitem
      UNION ALL
      SELECT 'l_tax', CAST(round(l_tax * 100, 0) AS BIGINT)
      FROM lineitem),
    freq AS (
      SELECT col, v, CAST(count(*) AS BIGINT) AS c
      FROM vals GROUP BY 1, 2),
    ranked AS (
      SELECT col, c,
             row_number() OVER (PARTITION BY col ORDER BY c DESC, v)
               AS rk
      FROM freq),
    tops AS (
      SELECT col,
             CAST(max(CASE WHEN rk = 1 THEN c END) AS BIGINT) AS top1,
             CAST(coalesce(max(CASE WHEN rk = 2 THEN c END), 0)
               AS BIGINT) AS top2
      FROM ranked GROUP BY 1),
    stats AS (
      SELECT col, CAST(count(*) AS BIGINT) AS n_distinct,
             CAST(sum(c) AS BIGINT) AS n
      FROM freq GROUP BY 1)
    SELECT s.col, s.n, s.n_distinct, t.top1, t.top2,
           CAST(t.top1 * 1000 // greatest(t.top2, 1) AS BIGINT)
             AS freq_ratio_milli,
           CAST(s.n_distinct * 1000 // s.n AS BIGINT)
             AS distinct_per_mille,
           (t.top1 * 1000 // greatest(t.top2, 1) >= 19000
            AND s.n_distinct * 1000 // s.n < 100) AS near_zero_var
    FROM stats s JOIN tops t ON s.col = t.col
"""


@register(
    "dq_near_zero_variance",
    _NZV_SQL,
    "near-zero-variance feature screen (the caret nearZeroVar rule in "
    "exact integers): per numeric lineitem column (cents-snapped for "
    "exact grouping), n, distinct count, top-1/top-2 value "
    "frequencies, the freq ratio and distinct-per-mille, and the NZV "
    "flag (ratio >= 19 AND unique share < 10%) — a feature that is "
    "one value 95% of the time carries no signal and breaks "
    "cross-validation folds; this is the screen run before any "
    "ml_woe_iv / ml_best_split treats a column as a feature. Shape: "
    "three column arms unioned into ONE (col, value) hash-agg; the "
    "rank window runs per column over its DISTINCT-VALUE dim "
    "(value-domain bounded)",
)
def dq_near_zero_variance(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    li = _t(spark, sf_dir, "lineitem")

    def arm(col: str) -> DataFrame:
        return li.select(
            F.lit(col).alias("col"),
            F.round(F.col(col) * 100, 0).cast("bigint").alias("v"),
        )

    vals = (
        arm("l_quantity")
        .unionByName(arm("l_discount"))
        .unionByName(arm("l_tax"))
    )
    freq = vals.groupBy("col", "v").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    w = Window.partitionBy("col").orderBy(F.desc("c"), F.col("v"))
    ranked = freq.select(
        "col", "c", F.row_number().over(w).alias("rk")
    )
    tops = ranked.groupBy("col").agg(
        F.max(F.when(F.col("rk") == 1, F.col("c")))
        .cast("bigint")
        .alias("top1"),
        F.coalesce(
            F.max(F.when(F.col("rk") == 2, F.col("c"))), F.lit(0)
        )
        .cast("bigint")
        .alias("top2"),
    )
    stats = freq.groupBy("col").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_distinct"),
        F.sum("c").cast("bigint").alias("n"),
    )
    return stats.join(tops, "col").select(
        "col",
        "n",
        "n_distinct",
        "top1",
        "top2",
        F.expr(
            "CAST(top1 * 1000 div greatest(top2, 1) AS BIGINT)"
        ).alias("freq_ratio_milli"),
        F.expr("CAST(n_distinct * 1000 div n AS BIGINT)").alias(
            "distinct_per_mille"
        ),
        F.expr(
            "top1 * 1000 div greatest(top2, 1) >= 19000"
            " AND n_distinct * 1000 div n < 100"
        ).alias("near_zero_var"),
    )


# ---------------------------------------------------------------------------
# dq_split_repair
# ---------------------------------------------------------------------------


def _split_repair_sql() -> str:
    from jigsaw_spark.operators.text import shingles_sql, tokens_sql

    return f"""
    WITH split AS (
      SELECT doc_id, source,
             CAST(CAST(('0x' || substr(md5('contam|'
               || CAST(doc_id AS VARCHAR)), 1, 12)) AS UBIGINT)
               % CAST(20 AS UBIGINT) AS BIGINT) = 0 AS is_holdout,
             {tokens_sql('text')} AS t
      FROM documents),
    gr AS (
      SELECT doc_id, unnest({shingles_sql('t', 8)}) AS sh
      FROM split),
    dg AS MATERIALIZED (
      SELECT DISTINCT doc_id, sh FROM gr),
    train_sh AS MATERIALIZED (
      SELECT DISTINCT g.sh
      FROM dg g JOIN split s ON g.doc_id = s.doc_id
      WHERE NOT s.is_holdout),
    contam AS (
      SELECT DISTINCT g.doc_id
      FROM dg g
      JOIN split s ON g.doc_id = s.doc_id
      JOIN train_sh h ON g.sh = h.sh
      WHERE s.is_holdout),
    gdf AS MATERIALIZED (
      SELECT sh, CAST(count(*) AS BIGINT) AS df FROM dg GROUP BY sh),
    doc_max AS (
      SELECT g.doc_id, max(d.df) AS mx
      FROM dg g JOIN gdf d ON g.sh = d.sh GROUP BY g.doc_id),
    pool AS (
      SELECT s.doc_id, s.source
      FROM split s LEFT JOIN doc_max m ON s.doc_id = m.doc_id
      WHERE NOT s.is_holdout AND coalesce(m.mx, 1) <= 1),
    per_src AS (
      SELECT s.source,
             CAST(sum(CASE WHEN s.is_holdout THEN 1 ELSE 0 END)
               AS BIGINT) AS n_holdout,
             CAST(sum(CASE WHEN s.is_holdout AND c.doc_id IS NOT NULL
               THEN 1 ELSE 0 END) AS BIGINT) AS n_contaminated,
             CAST(sum(CASE WHEN p.doc_id IS NOT NULL THEN 1 ELSE 0 END)
               AS BIGINT) AS n_pool
      FROM split s
      LEFT JOIN contam c ON s.doc_id = c.doc_id
      LEFT JOIN pool p ON s.doc_id = p.doc_id
      GROUP BY s.source)
    SELECT source, n_holdout, n_contaminated, n_pool,
           CAST(least(n_contaminated, n_pool) AS BIGINT) AS n_promote,
           CAST(n_contaminated - least(n_contaminated, n_pool)
             AS BIGINT) AS n_residual,
           CAST(n_holdout - n_contaminated
             + least(n_contaminated, n_pool) AS BIGINT)
             AS post_holdout
    FROM per_src
"""


@register(
    "dq_split_repair",
    _split_repair_sql(),
    "contamination-aware split repair (verdict r11 #4) — the "
    "remediation twin of dq_contamination_by_source, same 'contam|' "
    "md5 5% holdout: per source, the contaminated holdout docs that "
    "must be DEMOTED to train (any shared 8-gram with the train side), "
    "the swap pool of PROMOTABLE train docs (every 8-gram has "
    "corpus-wide document frequency 1 — such a doc can neither be "
    "contaminated nor contaminate, so promotion is provably safe; "
    "gram-less docs are vacuously safe), the exact-count swap "
    "(least(demote, pool) — within-source so the holdout's source mix "
    "survives the repair), the unrepairable residual, and the "
    "post-repair holdout size. Shape: one distinct (doc, gram) "
    "relation serves the contamination semi-join AND the df hash-agg; "
    "no windows, no pair enumeration",
)
def dq_split_repair(spark: SparkSession, sf_dir: str) -> DataFrame:
    from jigsaw_spark.operators.text import shingles_expr, tokens_expr
    from jigsaw_spark.session import widen

    docs = widen(_t(spark, sf_dir, "documents"))
    split = docs.select(
        "doc_id",
        "source",
        _holdout_col().alias("is_holdout"),
        tokens_expr("text").alias("t"),
    ).localCheckpoint()
    # one (sh) hash-agg over raw gram instances (set semantics subsume
    # the distinct), train-presence via the pure-expression holdout
    # flag on the doc array, then one (doc) agg carrying BOTH the
    # contamination flag and the max posting df — no split joins, no
    # semi-join chain, no gram-keyed self-join (guide §2.3/§2.4)
    per_doc = (
        split.select(
            "doc_id", F.explode(shingles_expr("t", 8)).alias("sh")
        )
        .groupBy("sh")
        .agg(F.collect_set("doc_id").alias("_ds"))
        .select(
            F.size("_ds").cast("bigint").alias("df"),
            F.exists("_ds", lambda d: ~_holdout_col(d)).alias("_ht"),
            F.explode("_ds").alias("doc_id"),
        )
        .groupBy("doc_id")
        .agg(
            F.max("df").alias("mx"),
            F.max(F.when(F.col("_ht"), 1).otherwise(0)).alias("_anyt"),
        )
    )
    flags = split.select("doc_id", "source", "is_holdout").join(
        per_doc, "doc_id", "left"
    )
    return flags.groupBy("source").agg(
        F.sum(F.when(F.col("is_holdout"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_holdout"),
        F.sum(
            F.when(
                F.col("is_holdout") & (F.col("_anyt") == 1), 1
            ).otherwise(0)
        )
        .cast("bigint")
        .alias("n_contaminated"),
        F.sum(
            F.when(
                ~F.col("is_holdout")
                & (F.coalesce(F.col("mx"), F.lit(1)) <= 1),
                1,
            ).otherwise(0)
        )
        .cast("bigint")
        .alias("n_pool"),
    ).select(
        "source",
        "n_holdout",
        "n_contaminated",
        "n_pool",
        F.least("n_contaminated", "n_pool")
        .cast("bigint")
        .alias("n_promote"),
        (
            F.col("n_contaminated")
            - F.least("n_contaminated", "n_pool")
        )
        .cast("bigint")
        .alias("n_residual"),
        (
            F.col("n_holdout")
            - F.col("n_contaminated")
            + F.least("n_contaminated", "n_pool")
        )
        .cast("bigint")
        .alias("post_holdout"),
    )


# ---------------------------------------------------------------------------
# dq_repair_residual
# ---------------------------------------------------------------------------


def _repair_residual_sql() -> str:
    from jigsaw_spark.operators.text import shingles_sql, tokens_sql

    return f"""
    WITH split AS (
      SELECT doc_id, source,
             CAST(CAST(('0x' || substr(md5('contam|'
               || CAST(doc_id AS VARCHAR)), 1, 12)) AS UBIGINT)
               % CAST(20 AS UBIGINT) AS BIGINT) = 0 AS is_holdout,
             {tokens_sql('text')} AS t
      FROM documents),
    gr AS (
      SELECT doc_id, unnest({shingles_sql('t', 8)}) AS sh
      FROM split),
    dg AS MATERIALIZED (
      SELECT DISTINCT doc_id, sh FROM gr),
    train_sh AS MATERIALIZED (
      SELECT DISTINCT g.sh
      FROM dg g JOIN split s ON g.doc_id = s.doc_id
      WHERE NOT s.is_holdout),
    contam AS MATERIALIZED (
      SELECT DISTINCT g.doc_id
      FROM dg g
      JOIN split s ON g.doc_id = s.doc_id
      JOIN train_sh h ON g.sh = h.sh
      WHERE s.is_holdout),
    gdf AS (
      SELECT sh, CAST(count(*) AS BIGINT) AS df FROM dg GROUP BY sh),
    doc_max AS (
      SELECT g.doc_id, max(d.df) AS mx
      FROM dg g JOIN gdf d ON g.sh = d.sh GROUP BY g.doc_id),
    pool AS (
      SELECT s.doc_id, s.source
      FROM split s LEFT JOIN doc_max m ON s.doc_id = m.doc_id
      WHERE NOT s.is_holdout AND coalesce(m.mx, 1) <= 1),
    quota AS MATERIALIZED (
      SELECT s.source,
             CAST(sum(CASE WHEN s.is_holdout AND c.doc_id IS NOT NULL
               THEN 1 ELSE 0 END) AS BIGINT) AS n_demote,
             CAST(sum(CASE WHEN p.doc_id IS NOT NULL THEN 1 ELSE 0 END)
               AS BIGINT) AS n_pool
      FROM split s
      LEFT JOIN contam c ON s.doc_id = c.doc_id
      LEFT JOIN pool p ON s.doc_id = p.doc_id
      GROUP BY s.source),
    promoted AS MATERIALIZED (
      SELECT r.doc_id, r.source FROM (
        SELECT p.doc_id, p.source,
               row_number() OVER (PARTITION BY p.source
                 ORDER BY md5('repair|' || CAST(p.doc_id AS VARCHAR)),
                          p.doc_id) AS rk
        FROM pool p) r
      JOIN quota q ON r.source = q.source
      WHERE r.rk <= least(q.n_demote, q.n_pool)),
    -- repaired split: train' = (train - promoted) + contam,
    -- holdout' = (holdout - contam) + promoted
    nsplit AS MATERIALIZED (
      SELECT s.doc_id, s.source,
             CASE WHEN c.doc_id IS NOT NULL THEN FALSE
                  WHEN p.doc_id IS NOT NULL THEN TRUE
                  ELSE s.is_holdout END AS is_holdout
      FROM split s
      LEFT JOIN contam c ON s.doc_id = c.doc_id
      LEFT JOIN promoted p ON s.doc_id = p.doc_id),
    ntrain_sh AS MATERIALIZED (
      SELECT DISTINCT g.sh
      FROM dg g JOIN nsplit s ON g.doc_id = s.doc_id
      WHERE NOT s.is_holdout),
    ncontam AS MATERIALIZED (
      SELECT DISTINCT g.doc_id
      FROM dg g
      JOIN nsplit s ON g.doc_id = s.doc_id
      JOIN ntrain_sh h ON g.sh = h.sh
      WHERE s.is_holdout)
    SELECT s.source,
           CAST(sum(CASE WHEN s.is_holdout THEN 1 ELSE 0 END)
             AS BIGINT) AS n_holdout_before,
           CAST(sum(CASE WHEN s.is_holdout AND c.doc_id IS NOT NULL
             THEN 1 ELSE 0 END) AS BIGINT) AS n_contam_before,
           CAST(sum(CASE WHEN p.doc_id IS NOT NULL THEN 1 ELSE 0 END)
             AS BIGINT) AS n_promoted,
           CAST(sum(CASE WHEN n.is_holdout THEN 1 ELSE 0 END)
             AS BIGINT) AS n_holdout_after,
           CAST(sum(CASE WHEN n.is_holdout AND nc.doc_id IS NOT NULL
             THEN 1 ELSE 0 END) AS BIGINT) AS n_contam_after,
           CAST(sum(CASE WHEN s.is_holdout AND c.doc_id IS NOT NULL
             THEN 1 ELSE 0 END)
             - sum(CASE WHEN n.is_holdout AND nc.doc_id IS NOT NULL
             THEN 1 ELSE 0 END) AS BIGINT) AS repair_gain
    FROM split s
    JOIN nsplit n ON s.doc_id = n.doc_id
    LEFT JOIN contam c ON s.doc_id = c.doc_id
    LEFT JOIN promoted p ON s.doc_id = p.doc_id
    LEFT JOIN ncontam nc ON s.doc_id = nc.doc_id
    GROUP BY s.source
"""


@register(
    "dq_repair_residual",
    _repair_residual_sql(),
    "the executed split repair, re-audited: demote every contaminated "
    "holdout doc to train, promote the md5-first least(demote, pool) "
    "provably-safe (all-gram-df=1) train docs per source into holdout, "
    "then RE-RUN the full 8-gram contamination count on the repaired "
    "split. Demoted docs' grams join the train side, so previously "
    "clean holdout docs can be NEWLY contaminated by former holdout "
    "neighbors — n_contam_after measures that sideways leak (promoted "
    "docs are clean by construction), and repair_gain is the honest "
    "net effect of the repair. Shape: the dq_split_repair gram "
    "machinery reused (ONE distinct (doc, gram) relation serves all "
    "four contamination/df consumers), the promotion rank banded by "
    "(source, md5-prefix) on the Spark side — no raw-fact single "
    "partition; oracle uses the plain per-source row_number (ranks "
    "identical by the banding proof of queries_r20)",
)
def dq_repair_residual(spark: SparkSession, sf_dir: str) -> DataFrame:
    from jigsaw_spark.functions.hashing import md5_key
    from jigsaw_spark.operators.text import shingles_expr, tokens_expr
    from jigsaw_spark.session import widen

    docs = widen(_t(spark, sf_dir, "documents"))
    hold = _holdout_col()
    split = docs.select("doc_id", "source", hold.alias("is_holdout"))

    def _grams(frame: DataFrame, *extra: str) -> DataFrame:
        return frame.select(
            "doc_id",
            hold.alias("h0"),
            *extra,
            F.explode(
                shingles_expr(tokens_expr("text"), 8)
            ).alias("sh"),
        )

    # ONE full corpus pass for the whole audit: the gram explode feeds
    # the (sh) hash-agg's map side directly (no intermediate
    # materialization of the exploded relation). Per gram: the distinct
    # doc posting (for df/safe), the round-0 train count and holdout
    # docs. The REPAIRED split's contamination is then derived
    # INCREMENTALLY — only grams containing a demoted/promoted doc can
    # change, and those sets are bounded by the repair volume, so the
    # second round is a broadcast-delta map-pass over g0, never a
    # second full aggregation (guide §2.4).
    g0 = (
        _grams(docs)
        .groupBy("sh")
        .agg(
            F.collect_set("doc_id").alias("_ds"),
            F.collect_set(
                F.when(F.col("h0"), F.col("doc_id"))
            ).alias("hd0"),
        )
        .withColumn("nt0", F.size("_ds") - F.size("hd0"))
        .localCheckpoint()
    )
    doc_max = (
        g0.select(
            F.size("_ds").cast("bigint").alias("df"),
            F.explode("_ds").alias("doc_id"),
        )
        .groupBy("doc_id")
        .agg(F.max("df").alias("mx"))
    )
    # lazy checkpoints (r14, guide §2.4): the repair chain is
    # sequential (contam → promoted → nsplit → final agg), so each
    # EAGER barrier was a separately scheduled near-idle job; with
    # eager=False the materialization folds into the first job that
    # needs it and later references still reuse the stored partitions
    contam = (
        g0.filter(F.col("nt0") > 0)
        .select(F.explode("hd0").alias("doc_id"))
        .distinct()
        .withColumn("c", F.lit(1))
        .localCheckpoint(eager=False)
    )
    pool = (
        split.join(doc_max, "doc_id", "left")
        .filter(
            ~F.col("is_holdout")
            & (F.coalesce("mx", F.lit(1)) <= 1)
        )
        .select("doc_id", "source")
        .localCheckpoint(eager=False)
    )
    # quota from two tiny aggregates instead of a 3-way join over the
    # full doc table (the dq_repair_fixpoint _promote form): contam
    # docs are holdout by construction, so n_demote is just their
    # per-source count; sources absent from the pool produce no ranked
    # rows, so pool-side grouping loses nothing
    ndem = (
        split.join(
            F.broadcast(contam.select("doc_id")), "doc_id", "left_semi"
        )
        .groupBy("source")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_demote"))
    )
    quota = (
        pool.groupBy("source")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_pool"))
        .join(F.broadcast(ndem), "source", "left")
        .select(
            "source",
            F.coalesce("n_demote", F.lit(0)).alias("n_demote"),
            "n_pool",
        )
    )
    # banded promotion rank: md5 hex prefix -> 256 uniform bands per
    # source; offsets over the (source, band) dim (bounded), rank
    # partitioned by (source, band) — bit-identical to the oracle's
    # per-source row_number (the queries_r20 banding proof)
    keyed = pool.withColumn(
        "_h", md5_key(F.col("doc_id"), seed="repair")
    ).withColumn("_band", F.substring("_h", 1, 2))
    bcounts = keyed.groupBy("source", "_band").agg(
        F.count(F.lit(1)).alias("_c")
    )
    wb = (
        Window.partitionBy("source")
        .orderBy("_band")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    boff = bcounts.select(
        "source",
        "_band",
        F.coalesce(F.sum("_c").over(wb), F.lit(0)).alias("_off"),
    )
    wrank = Window.partitionBy("source", "_band").orderBy(
        "_h", "doc_id"
    )
    promoted = (
        keyed.join(F.broadcast(boff), ["source", "_band"])
        .withColumn("rk", F.col("_off") + F.row_number().over(wrank))
        .join(F.broadcast(quota), "source")
        .filter(F.col("rk") <= F.least("n_demote", "n_pool"))
        .select("doc_id")
        .withColumn("pr", F.lit(1))
        .localCheckpoint(eager=False)
    )
    nsplit = (
        split.join(contam, "doc_id", "left")
        .join(promoted, "doc_id", "left")
        .select(
            "doc_id",
            "source",
            F.when(F.col("c").isNotNull(), F.lit(False))
            .when(F.col("pr").isNotNull(), F.lit(True))
            .otherwise(F.col("is_holdout"))
            .alias("n_holdout"),
            "is_holdout",
            F.col("c").isNotNull().alias("was_contam"),
            F.col("pr").isNotNull().alias("was_promoted"),
        )
        # single downstream consumer (the final agg) — no checkpoint;
        # its inputs are all checkpointed so the lineage stays shallow
    )
    # repaired-split contamination derived incrementally from g0: the
    # flags differ from round 0 only on the demoted (contam, holdout →
    # train) and promoted (safe train → holdout) docs, which are
    # disjoint by construction (promoted docs have every gram df ≤ 1 so
    # they can never be contaminated; demoted docs share a gram with
    # train so they can never be safe). ONE broadcast inner join of the
    # change sets into a re-scan, a tiny delta agg, then a map-pass
    # over g0 — never a second full gram aggregation.
    changed = contam.select(
        "doc_id", F.lit(True).alias("_isd")
    ).unionByName(
        promoted.select("doc_id", F.lit(False).alias("_isd"))
    )
    delta = (
        _grams(docs.join(F.broadcast(changed), "doc_id"), "_isd")
        .groupBy("sh")
        .agg(
            F.collect_set(
                F.when(F.col("_isd"), F.col("doc_id"))
            ).alias("dd"),
            F.collect_set(
                F.when(~F.col("_isd"), F.col("doc_id"))
            ).alias("pd"),
        )
    )
    upd = g0.join(F.broadcast(delta), "sh", "left").select(
        (
            F.col("nt0")
            + F.coalesce(F.size("dd"), F.lit(0))
            - F.coalesce(F.size("pd"), F.lit(0))
        ).alias("nt"),
        F.when(F.col("dd").isNull(), F.col("hd0"))
        .otherwise(F.concat(F.array_except("hd0", "dd"), F.col("pd")))
        .alias("hd"),
    )
    ncontam = (
        upd.filter((F.col("nt") > 0) & (F.size("hd") > 0))
        .select(F.explode("hd").alias("doc_id"))
        .distinct()
        .withColumn("nc", F.lit(1))
    )
    return (
        nsplit.join(ncontam, "doc_id", "left")
        .groupBy("source")
        .agg(
            F.sum(F.when(F.col("is_holdout"), 1).otherwise(0))
            .cast("bigint")
            .alias("n_holdout_before"),
            F.sum(
                F.when(
                    F.col("is_holdout") & F.col("was_contam"), 1
                ).otherwise(0)
            )
            .cast("bigint")
            .alias("n_contam_before"),
            F.sum(F.when(F.col("was_promoted"), 1).otherwise(0))
            .cast("bigint")
            .alias("n_promoted"),
            F.sum(F.when(F.col("n_holdout"), 1).otherwise(0))
            .cast("bigint")
            .alias("n_holdout_after"),
            F.sum(
                F.when(
                    F.col("n_holdout") & F.col("nc").isNotNull(), 1
                ).otherwise(0)
            )
            .cast("bigint")
            .alias("n_contam_after"),
            (
                F.sum(
                    F.when(
                        F.col("is_holdout") & F.col("was_contam"), 1
                    ).otherwise(0)
                )
                - F.sum(
                    F.when(
                        F.col("n_holdout") & F.col("nc").isNotNull(),
                        1,
                    ).otherwise(0)
                )
            )
            .cast("bigint")
            .alias("repair_gain"),
        )
    )


# ---------------------------------------------------------------------------
# dq_split_cluster_leakage
# ---------------------------------------------------------------------------


def _cluster_leakage_sql() -> str:
    return f"""
    WITH RECURSIVE {_KEEPER_COMPONENTS_CTE},
    {_keeper_cluster_cte()},
    lab AS MATERIALIZED (
      SELECT doc_id, cluster,
             {_HOLDOUT_SQL.format(d="doc_id")} AS is_holdout
      FROM clust),
    cl AS MATERIALIZED (
      SELECT cluster,
             CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(CASE WHEN is_holdout THEN 1 ELSE 0 END)
               AS BIGINT) AS n_hold,
             CAST(sum(CASE WHEN is_holdout THEN 0 ELSE 1 END)
               AS BIGINT) AS n_train
      FROM lab GROUP BY 1),
    tot AS (
      SELECT CAST(count(*) AS BIGINT) AS n_clusters,
             CAST(sum(n_hold) AS BIGINT) AS n_holdout_docs
      FROM cl)
    SELECT t.n_clusters,
           CAST(sum(CASE WHEN c.n_hold > 0 AND c.n_train > 0
             THEN 1 ELSE 0 END) AS BIGINT) AS n_straddling,
           CAST(sum(CASE WHEN c.n_hold > 0 AND c.n_train > 0
             THEN c.n_docs ELSE 0 END) AS BIGINT) AS n_docs_straddling,
           CAST(sum(CASE WHEN c.n_hold > 0 AND c.n_train > 0
             THEN c.n_hold ELSE 0 END) AS BIGINT)
             AS n_holdout_in_straddling,
           t.n_holdout_docs,
           CAST(CASE WHEN t.n_holdout_docs = 0 THEN 0
             ELSE sum(CASE WHEN c.n_hold > 0 AND c.n_train > 0
               THEN c.n_hold ELSE 0 END) * 1000 // t.n_holdout_docs
             END AS BIGINT) AS leak_milli
    FROM cl c CROSS JOIN tot t
    GROUP BY t.n_clusters, t.n_holdout_docs
"""


@register(
    "dq_split_cluster_leakage",
    _cluster_leakage_sql(),
    "cluster-level leakage audit of the 'contam|' md5 split every "
    "contamination query shares: a doc's duplicate CLUSTER (exact "
    "fingerprint group folded into its keeper's SimHash near-dup "
    "component) that holds both train and holdout members leaks "
    "content across the boundary even when no 8-gram fires — the "
    "failure p_leakage_safe_split exists to PREVENT, audited here on "
    "the split the contamination family actually uses. Reports "
    "straddling clusters, docs inside them per side, and the holdout "
    "share sitting in straddling clusters. Shape: every doc mapped "
    "to its keeper's component via the fp window + ONE hash join "
    "against the shared keeper components, two cluster-keyed "
    "hash-aggs, a 1-row totals cross",
)
def dq_split_cluster_leakage(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from jigsaw_spark.operators.dedup import near_dup_keepers

    docs = _t(spark, sf_dir, "documents")
    lab = near_dup_keepers(docs, "doc_id").select(
        F.col("keeper").alias("cluster"),
        _holdout_col().alias("is_holdout"),
    )
    cl = lab.groupBy("cluster").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum(F.when(F.col("is_holdout"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_hold"),
        F.sum(F.when(F.col("is_holdout"), 0).otherwise(1))
        .cast("bigint")
        .alias("n_train"),
    )
    tot = cl.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_clusters"),
        F.sum("n_hold").cast("bigint").alias("n_holdout_docs"),
    )
    straddle = F.when(
        (F.col("n_hold") > 0) & (F.col("n_train") > 0), True
    ).otherwise(False)
    return (
        cl.withColumn("s", straddle)
        .crossJoin(F.broadcast(tot))
        .groupBy("n_clusters", "n_holdout_docs")
        .agg(
            F.sum(F.when(F.col("s"), 1).otherwise(0))
            .cast("bigint")
            .alias("n_straddling"),
            F.sum(F.when(F.col("s"), F.col("n_docs")).otherwise(0))
            .cast("bigint")
            .alias("n_docs_straddling"),
            F.sum(F.when(F.col("s"), F.col("n_hold")).otherwise(0))
            .cast("bigint")
            .alias("n_holdout_in_straddling"),
        )
        .select(
            "n_clusters",
            "n_straddling",
            "n_docs_straddling",
            "n_holdout_in_straddling",
            "n_holdout_docs",
            F.expr(
                "CAST(CASE WHEN n_holdout_docs = 0 THEN 0"
                " ELSE n_holdout_in_straddling * 1000"
                " div n_holdout_docs END AS BIGINT)"
            ).alias("leak_milli"),
        )
    )


# ---------------------------------------------------------------------------
# dq_pooled_cluster_leakage
# ---------------------------------------------------------------------------


def _pooled_leakage_sql() -> str:
    hold = _HOLDOUT_SQL.format(d="k.doc_id")
    return f"""
    WITH RECURSIVE {_KEEPER_EDGES_CTE},
    {_PHASH_BYTES_CTE.strip()},
    {_DHASH_PAIRS_CTE},
    keeper_of AS (
      SELECT doc_id, min(doc_id) OVER (PARTITION BY fp) AS keeper
      FROM fpt),
    -- image edge endpoints folded to their exact keepers so both arms
    -- pool evidence on the SAME node set (the keeper graph)
    ikedges AS MATERIALIZED (
      SELECT ka.keeper AS u, kb.keeper AS v
      FROM mpairs m
      JOIN keeper_of ka ON m.doc_a = ka.doc_id
      JOIN keeper_of kb ON m.doc_b = kb.doc_id
      WHERE ka.keeper <> kb.keeper
      UNION
      SELECT kb.keeper, ka.keeper
      FROM mpairs m
      JOIN keeper_of ka ON m.doc_a = ka.doc_id
      JOIN keeper_of kb ON m.doc_b = kb.doc_id
      WHERE ka.keeper <> kb.keeper),
    uedges AS MATERIALIZED (
      SELECT u, v FROM edges UNION SELECT u, v FROM ikedges),
    {_components_cte(suffix="_t")},
    {_components_cte(edges="uedges", suffix="_u")},
    lab AS MATERIALIZED (
      SELECT 'text' AS arm, k.doc_id,
             coalesce(c.component, k.keeper) AS cluster,
             {hold} AS is_holdout
      FROM keeper_of k LEFT JOIN comp_t c ON k.keeper = c.doc_id
      UNION ALL
      SELECT 'pooled' AS arm, k.doc_id,
             coalesce(c.component, k.keeper) AS cluster,
             {hold} AS is_holdout
      FROM keeper_of k LEFT JOIN comp_u c ON k.keeper = c.doc_id),
    cl AS MATERIALIZED (
      SELECT arm, cluster,
             CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(CASE WHEN is_holdout THEN 1 ELSE 0 END)
               AS BIGINT) AS n_hold,
             CAST(sum(CASE WHEN is_holdout THEN 0 ELSE 1 END)
               AS BIGINT) AS n_train
      FROM lab GROUP BY 1, 2),
    tot AS (
      SELECT arm, CAST(count(*) AS BIGINT) AS n_clusters,
             CAST(sum(n_hold) AS BIGINT) AS n_holdout_docs
      FROM cl GROUP BY 1)
    SELECT c.arm, t.n_clusters,
           CAST(sum(CASE WHEN c.n_hold > 0 AND c.n_train > 0
             THEN 1 ELSE 0 END) AS BIGINT) AS n_straddling,
           CAST(sum(CASE WHEN c.n_hold > 0 AND c.n_train > 0
             THEN c.n_docs ELSE 0 END) AS BIGINT) AS n_docs_straddling,
           CAST(sum(CASE WHEN c.n_hold > 0 AND c.n_train > 0
             THEN c.n_hold ELSE 0 END) AS BIGINT)
             AS n_holdout_in_straddling,
           t.n_holdout_docs,
           CAST(CASE WHEN t.n_holdout_docs = 0 THEN 0
             ELSE sum(CASE WHEN c.n_hold > 0 AND c.n_train > 0
               THEN c.n_hold ELSE 0 END) * 1000 // t.n_holdout_docs
             END AS BIGINT) AS leak_milli
    FROM cl c JOIN tot t ON c.arm = t.arm
    GROUP BY c.arm, t.n_clusters, t.n_holdout_docs
"""


def _straddle_ledger(lab: DataFrame) -> DataFrame:
    """(arm, doc_id, cluster, is_holdout) -> per-arm straddle ledger;
    the r70 accounting generalized to a bounded arm dim."""
    cl = lab.groupBy("arm", "cluster").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum(F.when(F.col("is_holdout"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_hold"),
        F.sum(F.when(F.col("is_holdout"), 0).otherwise(1))
        .cast("bigint")
        .alias("n_train"),
    )
    tot = cl.groupBy("arm").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_clusters"),
        F.sum("n_hold").cast("bigint").alias("n_holdout_docs"),
    )
    s = (F.col("n_hold") > 0) & (F.col("n_train") > 0)
    return (
        cl.withColumn("s", s)
        .join(F.broadcast(tot), "arm")
        .groupBy("arm", "n_clusters", "n_holdout_docs")
        .agg(
            F.sum(F.when(F.col("s"), 1).otherwise(0))
            .cast("bigint")
            .alias("n_straddling"),
            F.sum(F.when(F.col("s"), F.col("n_docs")).otherwise(0))
            .cast("bigint")
            .alias("n_docs_straddling"),
            F.sum(F.when(F.col("s"), F.col("n_hold")).otherwise(0))
            .cast("bigint")
            .alias("n_holdout_in_straddling"),
        )
        .select(
            "arm",
            "n_clusters",
            "n_straddling",
            "n_docs_straddling",
            "n_holdout_in_straddling",
            "n_holdout_docs",
            F.expr(
                "CAST(CASE WHEN n_holdout_docs = 0 THEN 0"
                " ELSE n_holdout_in_straddling * 1000"
                " div n_holdout_docs END AS BIGINT)"
            ).alias("leak_milli"),
        )
    )


@register(
    "dq_pooled_cluster_leakage",
    _pooled_leakage_sql(),
    "cluster-level split leakage under POOLED dedup evidence: the r70 "
    "straddle audit (dq_split_cluster_leakage) run per arm — text "
    "keeper clusters vs clusters over text UNION banded dHash image "
    "edges (endpoints folded to exact keepers, so both arms pool on "
    "the keeper graph). A pooled leak_milli above the text arm is "
    "holdout content reachable from train through IMAGE near-dups "
    "alone — leakage no text detector can see, the audit twin of "
    "dedup_pooled_components' recall argument. Shape: two certified "
    "banded pair lists, keeper fold joins, size-adaptive components "
    "per arm, cluster-keyed hash-aggs over a 2-arm dim — no "
    "all-pairs, no raw-fact windows",
)
def dq_pooled_cluster_leakage(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from jigsaw_spark.operators.dedup import (
        connected_components,
        keeper_frames,
    )

    docs = _t(spark, sf_dir, "documents")
    # one exact-dedup pass shared by the keeper fold and the pair graph
    ded, kpairs = keeper_frames(docs, "doc_id")
    # ded is already the narrow checkpointed frame (r14) — no private
    # re-checkpoint needed to keep text out of the downstream reads
    keeper_of = ded.select("doc_id", "keeper")
    tpairs = kpairs.localCheckpoint()
    ka = keeper_of.select(
        F.col("doc_id").alias("doc_a"), F.col("keeper").alias("ku")
    )
    kb = keeper_of.select(
        F.col("doc_id").alias("doc_b"), F.col("keeper").alias("kv")
    )
    ipairs = (
        mm_phash_near_dup(spark, sf_dir)
        .select(
            F.col("img_a").cast("bigint").alias("doc_a"),
            F.col("img_b").cast("bigint").alias("doc_b"),
        )
        .join(ka, "doc_a")
        .join(kb, "doc_b")
        .filter(F.col("ku") != F.col("kv"))
        .select(
            F.least("ku", "kv").alias("doc_a"),
            F.greatest("ku", "kv").alias("doc_b"),
        )
        .distinct()
        .localCheckpoint()
    )
    upairs = (
        tpairs.select("doc_a", "doc_b")
        .unionByName(ipairs)
        .distinct()
    )

    def _lab(pairs: DataFrame, arm: str) -> DataFrame:
        comp = connected_components(pairs).select(
            F.col("doc_id").alias("keeper"),
            F.col("component").alias("c0"),
        )
        return keeper_of.join(comp, "keeper", "left").select(
            F.lit(arm).alias("arm"),
            "doc_id",
            F.coalesce("c0", F.col("keeper")).alias("cluster"),
            _holdout_col().alias("is_holdout"),
        )

    lab = _lab(tpairs, "text").unionByName(_lab(upairs, "pooled"))
    return _straddle_ledger(lab)


# ---------------------------------------------------------------------------
# dq_repair_fixpoint
# ---------------------------------------------------------------------------


def _repair_fixpoint_sql() -> str:
    from jigsaw_spark.operators.text import shingles_sql, tokens_sql

    hold = _HOLDOUT_SQL.format(d="doc_id")
    return f"""
    WITH split0 AS MATERIALIZED (
      SELECT doc_id, source, {hold} AS is_holdout,
             {tokens_sql('text')} AS t
      FROM documents),
    dg AS MATERIALIZED (
      SELECT DISTINCT doc_id, unnest({shingles_sql('t', 8)}) AS sh
      FROM split0),
    gdf AS (
      SELECT sh, CAST(count(*) AS BIGINT) AS df FROM dg GROUP BY sh),
    safe AS MATERIALIZED (
      SELECT s.doc_id, s.source
      FROM split0 s LEFT JOIN (
        SELECT g.doc_id, max(d.df) AS mx
        FROM dg g JOIN gdf d ON g.sh = d.sh GROUP BY g.doc_id) m
        ON s.doc_id = m.doc_id
      WHERE coalesce(m.mx, 1) <= 1),
    -- iteration 1
    tsh0 AS (
      SELECT DISTINCT g.sh FROM dg g
      JOIN split0 s ON g.doc_id = s.doc_id WHERE NOT s.is_holdout),
    c0 AS MATERIALIZED (
      SELECT DISTINCT g.doc_id FROM dg g
      JOIN split0 s ON g.doc_id = s.doc_id
      JOIN tsh0 h ON g.sh = h.sh WHERE s.is_holdout),
    pool1 AS (
      SELECT f.doc_id, f.source FROM safe f
      JOIN split0 s ON f.doc_id = s.doc_id WHERE NOT s.is_holdout),
    quota1 AS (
      SELECT s.source,
             CAST(sum(CASE WHEN s.is_holdout AND c.doc_id IS NOT NULL
               THEN 1 ELSE 0 END) AS BIGINT) AS n_demote,
             CAST(sum(CASE WHEN p.doc_id IS NOT NULL THEN 1 ELSE 0 END)
               AS BIGINT) AS n_pool
      FROM split0 s
      LEFT JOIN c0 c ON s.doc_id = c.doc_id
      LEFT JOIN pool1 p ON s.doc_id = p.doc_id
      GROUP BY s.source),
    prom1 AS MATERIALIZED (
      SELECT r.doc_id, r.source FROM (
        SELECT p.doc_id, p.source,
               row_number() OVER (PARTITION BY p.source
                 ORDER BY md5('repair|' || CAST(p.doc_id AS VARCHAR)),
                          p.doc_id) AS rk
        FROM pool1 p) r
      JOIN quota1 q ON r.source = q.source
      WHERE r.rk <= least(q.n_demote, q.n_pool)),
    split1 AS MATERIALIZED (
      SELECT s.doc_id, s.source,
             CASE WHEN c.doc_id IS NOT NULL THEN FALSE
                  WHEN p.doc_id IS NOT NULL THEN TRUE
                  ELSE s.is_holdout END AS is_holdout
      FROM split0 s
      LEFT JOIN c0 c ON s.doc_id = c.doc_id
      LEFT JOIN prom1 p ON s.doc_id = p.doc_id),
    -- iteration 2 (same operator applied to split1)
    tsh1 AS (
      SELECT DISTINCT g.sh FROM dg g
      JOIN split1 s ON g.doc_id = s.doc_id WHERE NOT s.is_holdout),
    c1 AS MATERIALIZED (
      SELECT DISTINCT g.doc_id FROM dg g
      JOIN split1 s ON g.doc_id = s.doc_id
      JOIN tsh1 h ON g.sh = h.sh WHERE s.is_holdout),
    pool2 AS (
      SELECT f.doc_id, f.source FROM safe f
      JOIN split1 s ON f.doc_id = s.doc_id WHERE NOT s.is_holdout),
    quota2 AS (
      SELECT s.source,
             CAST(sum(CASE WHEN s.is_holdout AND c.doc_id IS NOT NULL
               THEN 1 ELSE 0 END) AS BIGINT) AS n_demote,
             CAST(sum(CASE WHEN p.doc_id IS NOT NULL THEN 1 ELSE 0 END)
               AS BIGINT) AS n_pool
      FROM split1 s
      LEFT JOIN c1 c ON s.doc_id = c.doc_id
      LEFT JOIN pool2 p ON s.doc_id = p.doc_id
      GROUP BY s.source),
    prom2 AS MATERIALIZED (
      SELECT r.doc_id, r.source FROM (
        SELECT p.doc_id, p.source,
               row_number() OVER (PARTITION BY p.source
                 ORDER BY md5('repair2|' || CAST(p.doc_id AS VARCHAR)),
                          p.doc_id) AS rk
        FROM pool2 p) r
      JOIN quota2 q ON r.source = q.source
      WHERE r.rk <= least(q.n_demote, q.n_pool)),
    split2 AS MATERIALIZED (
      SELECT s.doc_id, s.source,
             CASE WHEN c.doc_id IS NOT NULL THEN FALSE
                  WHEN p.doc_id IS NOT NULL THEN TRUE
                  ELSE s.is_holdout END AS is_holdout
      FROM split1 s
      LEFT JOIN c1 c ON s.doc_id = c.doc_id
      LEFT JOIN prom2 p ON s.doc_id = p.doc_id),
    tsh2 AS (
      SELECT DISTINCT g.sh FROM dg g
      JOIN split2 s ON g.doc_id = s.doc_id WHERE NOT s.is_holdout),
    c2 AS MATERIALIZED (
      SELECT DISTINCT g.doc_id FROM dg g
      JOIN split2 s ON g.doc_id = s.doc_id
      JOIN tsh2 h ON g.sh = h.sh WHERE s.is_holdout)
    SELECT s.source,
           CAST(sum(CASE WHEN s.is_holdout AND a.doc_id IS NOT NULL
             THEN 1 ELSE 0 END) AS BIGINT) AS contam_r0,
           CAST(sum(CASE WHEN s1.is_holdout AND b.doc_id IS NOT NULL
             THEN 1 ELSE 0 END) AS BIGINT) AS contam_r1,
           CAST(sum(CASE WHEN s2.is_holdout AND c.doc_id IS NOT NULL
             THEN 1 ELSE 0 END) AS BIGINT) AS contam_r2,
           CAST(sum(CASE WHEN p1.doc_id IS NOT NULL THEN 1 ELSE 0 END)
             AS BIGINT) AS promoted_r1,
           CAST(sum(CASE WHEN p2.doc_id IS NOT NULL THEN 1 ELSE 0 END)
             AS BIGINT) AS promoted_r2,
           (sum(CASE WHEN s.is_holdout AND a.doc_id IS NOT NULL
             THEN 1 ELSE 0 END)
            >= sum(CASE WHEN s1.is_holdout AND b.doc_id IS NOT NULL
             THEN 1 ELSE 0 END))
           AND (sum(CASE WHEN s1.is_holdout AND b.doc_id IS NOT NULL
             THEN 1 ELSE 0 END)
            >= sum(CASE WHEN s2.is_holdout AND c.doc_id IS NOT NULL
             THEN 1 ELSE 0 END)) AS monotone
    FROM split0 s
    JOIN split1 s1 ON s.doc_id = s1.doc_id
    JOIN split2 s2 ON s.doc_id = s2.doc_id
    LEFT JOIN c0 a ON s.doc_id = a.doc_id
    LEFT JOIN c1 b ON s.doc_id = b.doc_id
    LEFT JOIN c2 c ON s.doc_id = c.doc_id
    LEFT JOIN prom1 p1 ON s.doc_id = p1.doc_id
    LEFT JOIN prom2 p2 ON s.doc_id = p2.doc_id
    GROUP BY s.source
"""


@register(
    "dq_repair_fixpoint",
    _repair_fixpoint_sql(),
    "convergence proof of the executed split repair: apply "
    "dq_split_repair's demote-contaminated + promote-provably-safe "
    "operator TWICE and report the 8-gram contamination residual at "
    "iterations 0/1/2 per source, the promotion volumes, and a "
    "monotone flag (r0 >= r1 >= r2). dq_repair_residual showed round "
    "1's sideways leak (demoted grams newly contaminate other holdout "
    "docs); this answers whether the repair loop CONVERGES — the "
    "residual shrinking monotonically is the termination argument for "
    "running repair-until-clean on a real corpus. Shape: ONE distinct "
    "(doc, gram) relation serves all six contamination/df consumers; "
    "promotions rank inside (source, md5-band) partitions on the "
    "Spark side (oracle uses the plain per-source row_number — ranks "
    "identical by the queries_r20 banding proof); each iteration is "
    "two semi-joins + one hash-agg over the gram relation",
)
def dq_repair_fixpoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    from jigsaw_spark.operators.text import shingles_expr, tokens_expr
    from jigsaw_spark.session import widen

    docs = widen(_t(spark, sf_dir, "documents"))
    # The round-0 holdout flag is a pure md5 expression of doc_id, so it
    # rides the gram explode inline (the dq_leak_detector_overlap form);
    # later rounds' flags differ from round 0 only on the small
    # demote/promote sets, which join as BROADCAST markers — the gram
    # relation is never shuffled by doc_id (it used to be, once per
    # round), and the doc-level split tables become expressions over
    # base + markers instead of checkpointed join chains (guide §2.4,
    # §3.1; marker volume is bounded by the contamination count, which
    # is what makes the broadcast scale-safe at 100 TB).
    def _grams(frame: DataFrame, *extra: str) -> DataFrame:
        return frame.select(
            "doc_id",
            _holdout_col().alias("h0"),
            *extra,
            F.explode(
                shingles_expr(tokens_expr("text"), 8)
            ).alias("sh"),
        )

    # ONE full pass over the corpus for the whole fixpoint: the gram
    # explode feeds the (sh) hash-agg's map side directly (an
    # intermediate localCheckpoint of the 2.5M-row exploded relation
    # measured 3.4 s of pure serialization — fusing it away is the
    # win). Per gram: the distinct doc posting (for df/safe), the
    # round-0 train count and the round-0 holdout docs. Later rounds'
    # per-gram state is derived INCREMENTALLY from this relation —
    # only grams containing a changed (demoted/promoted) doc can
    # change, and those deltas are bounded by the repair volume, so
    # each round is a broadcast-delta map-pass over g0 instead of a
    # full re-aggregation (guide §2.4).
    g0 = (
        _grams(docs)
        .groupBy("sh")
        .agg(
            F.collect_set("doc_id").alias("_ds"),
            F.collect_set(
                F.when(F.col("h0"), F.col("doc_id"))
            ).alias("hd0"),
        )
        # distinct train docs = distinct docs minus distinct holdout docs
        .withColumn("nt0", F.size("_ds") - F.size("hd0"))
        .localCheckpoint()
    )
    doc_max = (
        g0.select(
            F.size("_ds").cast("bigint").alias("df"),
            F.explode("_ds").alias("doc_id"),
        )
        .groupBy("doc_id")
        .agg(F.max("df").alias("mx"))
    )
    base = docs.select(
        "doc_id", "source", _holdout_col().alias("h0")
    )
    safe = (
        base.select("doc_id", "source")
        .join(doc_max, "doc_id", "left")
        .filter(F.coalesce("mx", F.lit(1)) <= 1)
        .select("doc_id", "source")
        .localCheckpoint(eager=False)
    )

    def _mark(df: DataFrame, sets: list[tuple[DataFrame, str]]) -> DataFrame:
        """LEFT-join each small (doc_id) set as a broadcast 1-marker."""
        for s, m in sets:
            df = df.join(
                F.broadcast(s.select("doc_id").withColumn(m, F.lit(1))),
                "doc_id",
                "left",
            )
        return df

    def _contam(
        demoted: DataFrame | None, promoted: DataFrame | None
    ) -> DataFrame:
        """Distinct contaminated holdout doc_ids under the round's
        flags, derived incrementally from g0: per gram, the train
        count moves by |demoted ∩ gram| − |promoted ∩ gram| and the
        holdout set loses the demoted and gains the promoted members.
        The delta relation only covers grams containing a changed doc
        (broadcast semi-join of dg against the bounded change sets),
        so each round is a map-pass over g0 plus a tiny explode —
        never a second full (sh) aggregation."""
        if demoted is None:
            return (
                g0.filter(F.col("nt0") > 0)
                .select(F.explode("hd0").alias("doc_id"))
                .distinct()
                .localCheckpoint(eager=False)
            )
        # grams of the changed docs only: ONE broadcast inner join of
        # the bounded change sets into a re-scan BEFORE the explode —
        # the join is also the filter, so the delta explode runs over
        # dozens of docs, not the corpus
        changed = demoted.select(
            "doc_id", F.lit(True).alias("_isd")
        ).unionByName(
            promoted.select("doc_id", F.lit(False).alias("_isd"))
        )
        ch = _grams(
            docs.join(F.broadcast(changed), "doc_id"), "_isd"
        )
        delta = ch.groupBy("sh").agg(
            F.collect_set(
                F.when(F.col("_isd"), F.col("doc_id"))
            ).alias("dd"),
            F.collect_set(
                F.when(~F.col("_isd"), F.col("doc_id"))
            ).alias("pd"),
        )
        upd = g0.join(F.broadcast(delta), "sh", "left").select(
            (
                F.col("nt0")
                + F.coalesce(F.size("dd"), F.lit(0))
                - F.coalesce(F.size("pd"), F.lit(0))
            ).alias("nt"),
            # dd/pd are NULL together exactly when the gram has no
            # changed doc (left-join miss) — keep hd0 untouched then
            F.when(F.col("dd").isNull(), F.col("hd0"))
            .otherwise(
                F.concat(F.array_except("hd0", "dd"), F.col("pd"))
            )
            .alias("hd"),
        )
        return (
            upd.filter((F.col("nt") > 0) & (F.size("hd") > 0))
            .select(F.explode("hd").alias("doc_id"))
            .distinct()
            .localCheckpoint(eager=False)
        )

    def _promote(
        flags: DataFrame, contam: DataFrame, salt: str
    ) -> DataFrame:
        """md5-first promotion of least(demote, pool) safe train docs
        per source — banded rank, bit-identical to the oracle's plain
        per-source row_number (queries_r20 proof). ``flags`` carries
        (doc_id, source, h) for the round."""
        from pyspark.sql import Window

        from jigsaw_spark.functions.hashing import md5_key

        pool = safe.join(
            flags.filter(~F.col("h")).select("doc_id"),
            "doc_id",
            "left_semi",
        )
        # quota from two tiny aggregates instead of a 3-way join over
        # the full doc table: contaminated docs are holdout under the
        # round's flags by construction, so n_demote is just their
        # per-source count; sources absent from the pool produce no
        # ranked rows, so pool-side grouping loses nothing
        ndem = (
            flags.join(
                F.broadcast(contam.select("doc_id")), "doc_id", "left_semi"
            )
            .groupBy("source")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_demote"))
        )
        quota = (
            pool.groupBy("source")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_pool"))
            .join(F.broadcast(ndem), "source", "left")
            .select(
                "source",
                F.coalesce("n_demote", F.lit(0)).alias("n_demote"),
                "n_pool",
            )
        )
        keyed = pool.withColumn(
            "_h", md5_key(F.col("doc_id"), seed=salt)
        ).withColumn("_band", F.substring("_h", 1, 2))
        bcounts = keyed.groupBy("source", "_band").agg(
            F.count(F.lit(1)).alias("_c")
        )
        wb = (
            Window.partitionBy("source")
            .orderBy("_band")
            .rowsBetween(Window.unboundedPreceding, -1)
        )
        offsets = bcounts.withColumn(
            "_off", F.coalesce(F.sum("_c").over(wb), F.lit(0))
        ).select("source", "_band", "_off")
        win = Window.partitionBy("source", "_band").orderBy(
            "_h", "doc_id"
        )
        ranked = (
            keyed.withColumn("_rk", F.row_number().over(win))
            .join(F.broadcast(offsets), ["source", "_band"])
            .select(
                "doc_id",
                "source",
                (F.col("_rk") + F.col("_off")).alias("rk"),
            )
        )
        return (
            ranked.join(F.broadcast(quota), "source")
            .filter(
                F.col("rk") <= F.least(F.col("n_demote"), F.col("n_pool"))
            )
            .select("doc_id", "source")
            .localCheckpoint(eager=False)
        )

    def _flags(sets: list[tuple[DataFrame, str]], h) -> DataFrame:
        return _mark(base, sets).select(
            "doc_id", "source", h.alias("h")
        )

    # The demote/promote sets are pairwise DISJOINT and non-reverting
    # by construction — promoted docs are safe (every gram df ≤ 1) and
    # so can never be contaminated/demoted; demoted docs share a gram
    # with train (df ≥ 2) and so can never be safe/promoted; demotes
    # draw from round-0 holdout, promotes from round-0 train — so the
    # cumulative change sets reproduce the sequential _apply chain.
    c0 = _contam(None, None)
    prom1 = _promote(
        base.select("doc_id", "source", F.col("h0").alias("h")),
        c0,
        "repair",
    )
    h1x = (
        F.when(F.col("_c0").isNotNull(), F.lit(False))
        .when(F.col("_p1").isNotNull(), F.lit(True))
        .otherwise(F.col("h0"))
    )
    c1 = _contam(c0, prom1)
    prom2 = _promote(
        _flags([(c0, "_c0"), (prom1, "_p1")], h1x), c1, "repair2"
    )
    c2 = _contam(
        c0.select("doc_id").unionByName(c1.select("doc_id")),
        prom1.select("doc_id").unionByName(prom2.select("doc_id")),
    )

    j = _mark(
        base,
        [
            (c0, "_c0"),
            (prom1, "_p1"),
            (c1, "_c1"),
            (prom2, "_p2"),
            (c2, "_c2"),
        ],
    )
    h1 = (
        F.when(F.col("_c0").isNotNull(), F.lit(False))
        .when(F.col("_p1").isNotNull(), F.lit(True))
        .otherwise(F.col("h0"))
    )
    h2 = (
        F.when(F.col("_c1").isNotNull(), F.lit(False))
        .when(F.col("_p2").isNotNull(), F.lit(True))
        .otherwise(h1)
    )
    agg = j.groupBy("source").agg(
        F.sum(
            F.when(F.col("h0") & F.col("_c0").isNotNull(), 1).otherwise(0)
        )
        .cast("bigint")
        .alias("contam_r0"),
        F.sum(F.when(h1 & F.col("_c1").isNotNull(), 1).otherwise(0))
        .cast("bigint")
        .alias("contam_r1"),
        F.sum(F.when(h2 & F.col("_c2").isNotNull(), 1).otherwise(0))
        .cast("bigint")
        .alias("contam_r2"),
        F.sum(F.when(F.col("_p1").isNotNull(), 1).otherwise(0))
        .cast("bigint")
        .alias("promoted_r1"),
        F.sum(F.when(F.col("_p2").isNotNull(), 1).otherwise(0))
        .cast("bigint")
        .alias("promoted_r2"),
    )
    return agg.select(
        "source",
        "contam_r0",
        "contam_r1",
        "contam_r2",
        "promoted_r1",
        "promoted_r2",
        (
            (F.col("contam_r0") >= F.col("contam_r1"))
            & (F.col("contam_r1") >= F.col("contam_r2"))
        ).alias("monotone"),
    )


# ---------------------------------------------------------------------------
# dq_leak_detector_overlap
# ---------------------------------------------------------------------------


def _leak_overlap_sql() -> str:
    from jigsaw_spark.operators.text import shingles_sql

    hold = _HOLDOUT_SQL.format(d="doc_id")
    return f"""
    WITH RECURSIVE {_KEEPER_COMPONENTS_CTE},
    {_keeper_cluster_cte()},
    split AS MATERIALIZED (
      SELECT doc_id, {hold} AS is_holdout FROM documents),
    dg AS MATERIALIZED (
      SELECT DISTINCT doc_id, unnest({shingles_sql('t', 8)}) AS sh
      FROM toks),
    tsh AS (
      SELECT DISTINCT g.sh FROM dg g
      JOIN split s ON g.doc_id = s.doc_id WHERE NOT s.is_holdout),
    gramc AS MATERIALIZED (
      SELECT DISTINCT g.doc_id FROM dg g
      JOIN split s ON g.doc_id = s.doc_id
      JOIN tsh h ON g.sh = h.sh WHERE s.is_holdout),
    lab AS (
      SELECT k.doc_id, k.cluster, s.is_holdout
      FROM clust k JOIN split s ON k.doc_id = s.doc_id),
    strad AS MATERIALIZED (
      SELECT cluster FROM lab GROUP BY cluster
      HAVING sum(CASE WHEN is_holdout THEN 1 ELSE 0 END) > 0
         AND sum(CASE WHEN is_holdout THEN 0 ELSE 1 END) > 0),
    flags AS (
      SELECT l.doc_id,
             g.doc_id IS NOT NULL AS by_gram,
             st.cluster IS NOT NULL AS by_cluster
      FROM lab l
      LEFT JOIN gramc g ON l.doc_id = g.doc_id
      LEFT JOIN strad st ON l.cluster = st.cluster
      WHERE l.is_holdout)
    SELECT CAST(count(*) AS BIGINT) AS n_holdout,
           CAST(sum(CASE WHEN by_gram AND by_cluster THEN 1 ELSE 0
             END) AS BIGINT) AS n_both,
           CAST(sum(CASE WHEN by_gram AND NOT by_cluster THEN 1
             ELSE 0 END) AS BIGINT) AS n_gram_only,
           CAST(sum(CASE WHEN by_cluster AND NOT by_gram THEN 1
             ELSE 0 END) AS BIGINT) AS n_cluster_only,
           CAST(sum(CASE WHEN NOT by_gram AND NOT by_cluster THEN 1
             ELSE 0 END) AS BIGINT) AS n_neither,
           CAST(CASE WHEN sum(CASE WHEN by_gram OR by_cluster
             THEN 1 ELSE 0 END) = 0 THEN 0
             ELSE sum(CASE WHEN by_gram AND by_cluster
               THEN 1 ELSE 0 END) * 1000
               // sum(CASE WHEN by_gram OR by_cluster
                 THEN 1 ELSE 0 END) END AS BIGINT) AS jaccard_milli
    FROM flags
"""


@register(
    "dq_leak_detector_overlap",
    _leak_overlap_sql(),
    "leak-detector agreement — the dedup_detector_agreement pattern "
    "pointed at the two split auditors: over the 'contam|' holdout, "
    "docs flagged by the 8-gram contamination detector vs docs "
    "sitting in straddling duplicate clusters "
    "(dq_split_cluster_leakage's criterion), as a 2×2 plus the "
    "Jaccard of the two flagged sets. Low agreement means the "
    "detectors see DIFFERENT leakage (verbatim spans vs whole-doc "
    "near-copies) and a clean bill from one says nothing about the "
    "other — the measured case for running both at 100 TB. Shape: "
    "ONE distinct (doc, gram) relation + the certified keeper "
    "machinery, two semi-join flags, a single hash-agg row",
)
def dq_leak_detector_overlap(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from jigsaw_spark.operators.dedup import near_dup_keepers
    from jigsaw_spark.operators.text import shingles_expr, tokens_expr
    from jigsaw_spark.session import widen

    docs = widen(_t(spark, sf_dir, "documents"))
    # the holdout flag is a pure md5 expression of doc_id, so it rides
    # the gram explode inline — no split join; and the downstream
    # consumers are all set-semantics, so the per-(doc, gram) distinct
    # shuffle is subsumed by the single (sh) hash-agg below (guide
    # §2.3/§2.4: one exchange where there were four)
    grams = docs.select(
        "doc_id",
        _holdout_col().alias("is_holdout"),
        F.explode(shingles_expr(tokens_expr("text"), 8)).alias("sh"),
    )
    gramc = (
        grams.groupBy("sh")
        .agg(
            F.max(F.when(~F.col("is_holdout"), 1).otherwise(0)).alias(
                "has_train"
            ),
            F.collect_set(
                F.when(F.col("is_holdout"), F.col("doc_id"))
            ).alias("hdocs"),
        )
        .filter(F.col("has_train") == 1)
        .select(F.explode("hdocs").alias("doc_id"))
        .distinct()
        .withColumn("g", F.lit(1))
    )
    lab = near_dup_keepers(docs, "doc_id").select(
        "doc_id",
        F.col("keeper").alias("cluster"),
        _holdout_col().alias("is_holdout"),
    )
    # straddling-cluster membership via a cluster-partitioned window
    # instead of groupBy + join-back: `lab` (fp window + union-find
    # kernel in its lineage) is evaluated ONCE, not once per reference
    wcl = Window.partitionBy("cluster")
    flags = (
        lab.select(
            "doc_id",
            "is_holdout",
            (
                (
                    F.sum(
                        F.when(F.col("is_holdout"), 1).otherwise(0)
                    ).over(wcl)
                    > 0
                )
                & (
                    F.sum(
                        F.when(F.col("is_holdout"), 0).otherwise(1)
                    ).over(wcl)
                    > 0
                )
            ).alias("by_cluster"),
        )
        .filter(F.col("is_holdout"))
        .join(gramc, "doc_id", "left")
        .select(F.col("g").isNotNull().alias("by_gram"), "by_cluster")
    )

    def cnt(cond):
        return F.sum(F.when(cond, 1).otherwise(0)).cast("bigint")

    bg, bc = F.col("by_gram"), F.col("by_cluster")
    return flags.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_holdout"),
        cnt(bg & bc).alias("n_both"),
        cnt(bg & ~bc).alias("n_gram_only"),
        cnt(bc & ~bg).alias("n_cluster_only"),
        cnt(~bg & ~bc).alias("n_neither"),
        F.expr(
            "CAST(CASE WHEN sum(CASE WHEN by_gram OR by_cluster"
            " THEN 1 ELSE 0 END) = 0 THEN 0"
            " ELSE sum(CASE WHEN by_gram AND by_cluster"
            " THEN 1 ELSE 0 END) * 1000"
            " div sum(CASE WHEN by_gram OR by_cluster"
            " THEN 1 ELSE 0 END) END AS BIGINT)"
        ).alias("jaccard_milli"),
    )


# ---------------------------------------------------------------------------
# dq_split_embedding_drift
# ---------------------------------------------------------------------------

_SPLIT_DRIFT_SQL = f"""
    WITH cells AS (
      SELECT CAST(i AS INT) AS pos,
             sum(CASE WHEN NOT ({_HOLDOUT_SQL.format(d='vec_id')})
               THEN CAST(round(embedding[CAST(i + 1 AS INT)]::DOUBLE
                          * 1000000, 0) AS BIGINT) ELSE 0 END) AS st,
             sum(CASE WHEN {_HOLDOUT_SQL.format(d='vec_id')}
               THEN CAST(round(embedding[CAST(i + 1 AS INT)]::DOUBLE
                          * 1000000, 0) AS BIGINT) ELSE 0 END) AS sh,
             sum(CASE WHEN NOT ({_HOLDOUT_SQL.format(d='vec_id')})
               THEN 1 ELSE 0 END) AS nt,
             sum(CASE WHEN {_HOLDOUT_SQL.format(d='vec_id')}
               THEN 1 ELSE 0 END) AS nh
      FROM embeddings, range(64) t(i)
      GROUP BY 1),
    diffs AS (
      SELECT pos,
             CAST(st * nh - sh * nt AS BIGINT) AS dnum,
             CAST(nt * nh AS BIGINT) AS den,
             CAST(nt AS BIGINT) AS nt, CAST(nh AS BIGINT) AS nh
      FROM cells WHERE nt > 0 AND nh > 0)
    SELECT max(nt) AS n_train,
           max(nh) AS n_holdout,
           CAST(max(den) AS BIGINT) AS den,
           CAST(sum(abs(dnum)) AS BIGINT) AS l1_drift_num,
           CAST(max(abs(dnum) * 64 + 63 - pos) // 64 AS BIGINT)
             AS max_abs_diff_num,
           CAST(63 - max(abs(dnum) * 64 + 63 - pos) % 64 AS INT)
             AS max_dim
    FROM diffs
"""


@register(
    "dq_split_embedding_drift",
    _SPLIT_DRIFT_SQL,
    "embedding-space balance of the 'contam|' split — the "
    "dq_embedding_drift exact-integer machinery pointed at train vs "
    "holdout instead of the parity halves (vec_id == doc_id "
    "identity): micro-quantized coordinates, per-dimension centroid "
    "difference as the integer rational st*nh - sh*nt over nt*nh, "
    "L1 numerator, worst dimension (argmax packed, ties -> lowest "
    "dim). dq_split_smd balances doc covariates; this balances the "
    "REPRESENTATION the model actually sees — a holdout sitting "
    "elsewhere in embedding space measures a different population "
    "no length statistic can detect. Shape: posexplode -> ONE "
    "(dim, side) hash-agg (map-side combinable, 64 x 2 cells) -> a "
    "single-row rollup",
)
def dq_split_embedding_drift(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    cells = (
        emb.select(
            _holdout_col("vec_id").alias("is_holdout"),
            F.posexplode(
                F.transform(
                    F.col("embedding").cast("array<double>"),
                    lambda x: F.round(x * 1000000, 0).cast("long"),
                )
            ).alias("pos", "q"),
        )
        .groupBy("pos")
        .agg(
            F.sum(
                F.when(~F.col("is_holdout"), F.col("q")).otherwise(0)
            ).alias("st"),
            F.sum(
                F.when(F.col("is_holdout"), F.col("q")).otherwise(0)
            ).alias("sh"),
            F.sum(F.when(~F.col("is_holdout"), 1).otherwise(0)).alias(
                "nt"
            ),
            F.sum(F.when(F.col("is_holdout"), 1).otherwise(0)).alias(
                "nh"
            ),
        )
    )
    diffs = cells.filter((F.col("nt") > 0) & (F.col("nh") > 0)).select(
        "pos",
        F.expr("CAST(st * nh - sh * nt AS BIGINT)").alias("dnum"),
        F.expr("CAST(nt * nh AS BIGINT)").alias("den"),
        F.col("nt").cast("bigint").alias("nt"),
        F.col("nh").cast("bigint").alias("nh"),
    )
    return diffs.agg(
        F.max("nt").alias("n_train"),
        F.max("nh").alias("n_holdout"),
        F.max("den").cast("bigint").alias("den"),
        F.sum(F.abs(F.col("dnum"))).cast("bigint").alias(
            "l1_drift_num"
        ),
        F.expr(
            "CAST(max(abs(dnum) * 64 + 63 - pos) div 64 AS BIGINT)"
        ).alias("max_abs_diff_num"),
        F.expr(
            "CAST(63 - max(abs(dnum) * 64 + 63 - pos) % 64 AS INT)"
        ).alias("max_dim"),
    )


# ---------------------------------------------------------------------------
# dq_cluster_safe_repair
# ---------------------------------------------------------------------------


def _cluster_repair_sql() -> str:
    hold = _HOLDOUT_SQL.format(d="k.doc_id")
    return f"""
    WITH RECURSIVE {_KEEPER_COMPONENTS_CTE},
    {_keeper_cluster_cte()},
    lab AS MATERIALIZED (
      SELECT k.doc_id, d.source, k.cluster, {hold} AS is_holdout
      FROM clust k JOIN documents d ON k.doc_id = d.doc_id),
    csides AS MATERIALIZED (
      SELECT cluster,
             CAST(count(*) AS BIGINT) AS sz,
             CAST(sum(CASE WHEN is_holdout THEN 1 ELSE 0 END)
               AS BIGINT) AS n_hold,
             CAST(sum(CASE WHEN is_holdout THEN 0 ELSE 1 END)
               AS BIGINT) AS n_train
      FROM lab GROUP BY 1),
    -- demote: every holdout member of a straddling cluster
    demote AS MATERIALIZED (
      SELECT l.doc_id, l.source
      FROM lab l JOIN csides c ON l.cluster = c.cluster
      WHERE l.is_holdout AND c.n_hold > 0 AND c.n_train > 0),
    -- promote pool: train docs in SINGLETON clusters only
    pool AS (
      SELECT l.doc_id, l.source
      FROM lab l JOIN csides c ON l.cluster = c.cluster
      WHERE NOT l.is_holdout AND c.sz = 1),
    quota AS (
      SELECT l.source,
             CAST(sum(CASE WHEN d.doc_id IS NOT NULL THEN 1 ELSE 0
               END) AS BIGINT) AS n_demote,
             CAST(sum(CASE WHEN p.doc_id IS NOT NULL THEN 1 ELSE 0
               END) AS BIGINT) AS n_pool
      FROM lab l
      LEFT JOIN demote d ON l.doc_id = d.doc_id
      LEFT JOIN pool p ON l.doc_id = p.doc_id
      GROUP BY 1),
    prom AS MATERIALIZED (
      SELECT r.doc_id, r.source FROM (
        SELECT p.doc_id, p.source,
               row_number() OVER (PARTITION BY p.source
                 ORDER BY md5('crepair|' || CAST(p.doc_id AS VARCHAR)),
                          p.doc_id) AS rk
        FROM pool p) r
      JOIN quota q ON r.source = q.source
      WHERE r.rk <= least(q.n_demote, q.n_pool)),
    nsplit AS MATERIALIZED (
      SELECT l.doc_id, l.source, l.cluster,
             CASE WHEN d.doc_id IS NOT NULL THEN FALSE
                  WHEN p.doc_id IS NOT NULL THEN TRUE
                  ELSE l.is_holdout END AS is_holdout
      FROM lab l
      LEFT JOIN demote d ON l.doc_id = d.doc_id
      LEFT JOIN prom p ON l.doc_id = p.doc_id),
    nstrad AS (
      SELECT CAST(count(*) AS BIGINT) AS n_straddling_after
      FROM (SELECT cluster FROM nsplit GROUP BY cluster
            HAVING sum(CASE WHEN is_holdout THEN 1 ELSE 0 END) > 0
               AND sum(CASE WHEN is_holdout THEN 0 ELSE 1 END) > 0) t)
    SELECT l.source,
           CAST(sum(CASE WHEN l.is_holdout THEN 1 ELSE 0 END)
             AS BIGINT) AS n_holdout_before,
           CAST(sum(CASE WHEN d.doc_id IS NOT NULL THEN 1 ELSE 0 END)
             AS BIGINT) AS n_demoted,
           CAST(sum(CASE WHEN p.doc_id IS NOT NULL THEN 1 ELSE 0 END)
             AS BIGINT) AS n_promoted,
           CAST(sum(CASE WHEN n.is_holdout THEN 1 ELSE 0 END)
             AS BIGINT) AS n_holdout_after,
           CAST(max(s.n_straddling_after) AS BIGINT)
             AS global_straddle_after
    FROM lab l
    JOIN nsplit n ON l.doc_id = n.doc_id
    LEFT JOIN demote d ON l.doc_id = d.doc_id
    LEFT JOIN prom p ON l.doc_id = p.doc_id
    CROSS JOIN nstrad s
    GROUP BY l.source
"""


@register(
    "dq_cluster_safe_repair",
    _cluster_repair_sql(),
    "the CLUSTER-level executed split repair — demote every holdout "
    "member of a straddling duplicate cluster (the leakage "
    "dq_split_cluster_leakage certifies and no 8-gram detector can "
    "see), promote md5-first train docs from SINGLETON clusters per "
    "source to re-balance (a clustered promote could mint a new "
    "straddle; a singleton cannot — so straddle-after is 0 BY "
    "CONSTRUCTION and emitted as the verification column). The "
    "per-source ledger prices the cluster-safe guarantee: holdout "
    "docs sacrificed vs recovered. Complements dq_split_repair "
    "(gram-level) the way cluster leakage complements contamination. "
    "Shape: the certified keeper/cluster machinery, two cluster-side "
    "hash-aggs, the (source, md5-band) promotion rank — no raw-fact "
    "global window, no new pair surface",
)
def dq_cluster_safe_repair(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from jigsaw_spark.functions.hashing import md5_key
    from jigsaw_spark.operators.dedup import near_dup_keepers

    docs = _t(spark, sf_dir, "documents")
    lab = (
        near_dup_keepers(docs, "doc_id")
        .join(docs.select("doc_id", "source"), "doc_id")
        .select(
            "doc_id",
            "source",
            F.col("keeper").alias("cluster"),
            _holdout_col().alias("is_holdout"),
        )
        .localCheckpoint()
    )
    csides = lab.groupBy("cluster").agg(
        F.count(F.lit(1)).cast("bigint").alias("sz"),
        F.sum(F.when(F.col("is_holdout"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_hold"),
        F.sum(F.when(F.col("is_holdout"), 0).otherwise(1))
        .cast("bigint")
        .alias("n_train"),
    )
    labc = lab.join(csides, "cluster")
    demote = (
        labc.filter(
            F.col("is_holdout")
            & (F.col("n_hold") > 0)
            & (F.col("n_train") > 0)
        )
        .select("doc_id", "source")
        .withColumn("d", F.lit(1))
        .localCheckpoint()
    )
    pool = (
        labc.filter(~F.col("is_holdout") & (F.col("sz") == 1))
        .select("doc_id", "source")
        .localCheckpoint()
    )
    quota = (
        lab.select("doc_id", "source")
        .join(demote.select("doc_id", "d"), "doc_id", "left")
        .join(
            pool.withColumn("p", F.lit(1)).select("doc_id", "p"),
            "doc_id",
            "left",
        )
        .groupBy("source")
        .agg(
            F.sum(F.when(F.col("d").isNotNull(), 1).otherwise(0))
            .cast("bigint")
            .alias("n_demote"),
            F.sum(F.when(F.col("p").isNotNull(), 1).otherwise(0))
            .cast("bigint")
            .alias("n_pool"),
        )
    )
    # banded promotion rank (the queries_r20 proof: ranks bit-identical
    # to the oracle's plain per-source row_number)
    keyed = pool.withColumn(
        "_h", md5_key(F.col("doc_id"), seed="crepair")
    ).withColumn("_band", F.substring("_h", 1, 2))
    bcounts = keyed.groupBy("source", "_band").agg(
        F.count(F.lit(1)).alias("_c")
    )
    wb = (
        Window.partitionBy("source")
        .orderBy("_band")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = bcounts.withColumn(
        "_off", F.coalesce(F.sum("_c").over(wb), F.lit(0))
    ).select("source", "_band", "_off")
    win = Window.partitionBy("source", "_band").orderBy("_h", "doc_id")
    prom = (
        keyed.withColumn("_rk", F.row_number().over(win))
        .join(F.broadcast(offsets), ["source", "_band"])
        .join(F.broadcast(quota), "source")
        .filter(
            (F.col("_rk") + F.col("_off"))
            <= F.least(F.col("n_demote"), F.col("n_pool"))
        )
        .select("doc_id")
        .withColumn("p", F.lit(1))
        .localCheckpoint()
    )
    nsplit = (
        lab.join(demote.select("doc_id", "d"), "doc_id", "left")
        .join(prom, "doc_id", "left")
        .select(
            "doc_id",
            "source",
            "cluster",
            F.when(F.col("d").isNotNull(), F.lit(False))
            .when(F.col("p").isNotNull(), F.lit(True))
            .otherwise(F.col("is_holdout"))
            .alias("nh"),
        )
    )
    nstrad = (
        nsplit.groupBy("cluster")
        .agg(
            F.sum(F.when(F.col("nh"), 1).otherwise(0)).alias("h"),
            F.sum(F.when(F.col("nh"), 0).otherwise(1)).alias("t"),
        )
        .filter((F.col("h") > 0) & (F.col("t") > 0))
        .agg(
            F.count(F.lit(1))
            .cast("bigint")
            .alias("n_straddling_after")
        )
    )
    j = (
        lab.join(demote.select("doc_id", "d"), "doc_id", "left")
        .join(prom, "doc_id", "left")
        .join(nsplit.select("doc_id", "nh"), "doc_id")
    )
    return (
        j.groupBy("source")
        .agg(
            F.sum(F.when(F.col("is_holdout"), 1).otherwise(0))
            .cast("bigint")
            .alias("n_holdout_before"),
            F.sum(F.when(F.col("d").isNotNull(), 1).otherwise(0))
            .cast("bigint")
            .alias("n_demoted"),
            F.sum(F.when(F.col("p").isNotNull(), 1).otherwise(0))
            .cast("bigint")
            .alias("n_promoted"),
            F.sum(F.when(F.col("nh"), 1).otherwise(0))
            .cast("bigint")
            .alias("n_holdout_after"),
        )
        .crossJoin(F.broadcast(nstrad))
        .select(
            "source",
            "n_holdout_before",
            "n_demoted",
            "n_promoted",
            "n_holdout_after",
            F.col("n_straddling_after")
            .cast("bigint")
            .alias("global_straddle_after"),
        )
    )
