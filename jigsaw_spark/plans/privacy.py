"""Privacy queries (``privacy_*``): k-anonymity, l-diversity, t-closeness,
differential privacy, suppression.

``privacy_k_anonymity`` audits a raw quasi-identifier partitioning;
``privacy_kanon_release`` is the suppression-based release transform and
``privacy_ldiversity`` the attribute-disclosure audit. The Laplace ln has an
integer-derived argument pre-rounded to micro-units before any addition.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from jigsaw_spark.functions.hashing import det_hash
from jigsaw_spark.plans.registry import _t, register


_KANON = 5


@register(
    "privacy_kanon_release",
    f"""
    WITH cells AS (
      SELECT o_orderstatus, o_orderpriority, count(*) AS n,
             CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS cents
      FROM orders GROUP BY 1, 2),
    marked AS (
      SELECT *, n >= {_KANON} AS released FROM cells)
    SELECT CASE WHEN released THEN o_orderstatus ELSE '*' END AS o_orderstatus,
           CASE WHEN released THEN o_orderpriority ELSE '*' END
             AS o_orderpriority,
           CAST(sum(n) AS BIGINT) AS n,
           CAST(sum(cents) AS BIGINT) AS cents,
           CAST(count(*) AS BIGINT) AS n_cells_merged
    FROM marked GROUP BY 1, 2
    """,
    "k-anonymity release (k=5): quasi-identifier cells smaller than k "
    "collapse into ONE suppressed '*' cell instead of leaking small "
    "groups — the aggregate-publishing privacy gate. Two hash aggs (the "
    "second over the cell table, which is |distinct QI combos| rows, "
    "never corpus-sized); all outputs exact integers",
)
def privacy_kanon_release(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    cells = orders.groupBy("o_orderstatus", "o_orderpriority").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint"))
        .cast("bigint")
        .alias("cents"),
    )
    released = F.col("n") >= _KANON
    star = lambda c: F.when(released, F.col(c)).otherwise(F.lit("*"))  # noqa: E731
    return (
        cells.select(
            star("o_orderstatus").alias("o_orderstatus"),
            star("o_orderpriority").alias("o_orderpriority"),
            "n",
            "cents",
        )
        .groupBy("o_orderstatus", "o_orderpriority")
        .agg(
            F.sum("n").cast("bigint").alias("n"),
            F.sum("cents").cast("bigint").alias("cents"),
            F.count(F.lit(1)).cast("bigint").alias("n_cells_merged"),
        )
    )


# ---------------------------------------------------------------------------
# privacy_ldiversity
# ---------------------------------------------------------------------------

_LDIV_SQL = """
    SELECT c_nationkey, c_mktsegment,
           CAST(count(*) AS BIGINT) AS group_n,
           CAST(count(DISTINCT CAST(floor(c_acctbal / 1000.0) AS BIGINT))
                AS BIGINT) AS l,
           count(DISTINCT CAST(floor(c_acctbal / 1000.0) AS BIGINT)) >= 3
             AS diverse
    FROM customer
    GROUP BY c_nationkey, c_mktsegment
"""


@register(
    "privacy_ldiversity",
    _LDIV_SQL,
    "l-diversity audit (Machanavajjhala et al.): per quasi-identifier "
    "group (nation, segment), the count of DISTINCT sensitive values "
    "(acctbal kilo-bucket) and the l>=3 release flag — the companion "
    "gate to privacy_kanon_release (k bounds re-identification, l "
    "bounds attribute disclosure). ONE hash agg with a distinct "
    "sub-agg; exact integers end-to-end",
)
def privacy_ldiversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = _t(spark, sf_dir, "customer")
    sens = F.floor(F.col("c_acctbal") / 1000.0).cast("bigint")
    return cust.groupBy("c_nationkey", "c_mktsegment").agg(
        F.count(F.lit(1)).cast("bigint").alias("group_n"),
        F.count_distinct(sens).cast("bigint").alias("l"),
        (F.count_distinct(sens) >= 3).alias("diverse"),
    )


# ---------------------------------------------------------------------------
# privacy_tcloseness
# ---------------------------------------------------------------------------

_TCLOSE_SQL = """
    WITH v AS (
      SELECT c_mktsegment AS seg,
             (CAST(round(c_acctbal * 100, 0) AS BIGINT) + 100000) // 100000
               AS bucket
      FROM customer),
    buckets AS MATERIALIZED (
      SELECT DISTINCT bucket FROM v),
    m AS (SELECT count(*) AS m FROM buckets),
    segs AS MATERIALIZED (
      SELECT seg, count(*) AS ng FROM v GROUP BY seg),
    n AS (SELECT count(*) AS n FROM v),
    gc AS (
      SELECT seg, bucket, count(*) AS r FROM v GROUP BY seg, bucket),
    tc AS (
      SELECT bucket, count(*) AS c FROM v GROUP BY bucket),
    grid AS (
      SELECT s.seg, s.ng, b.bucket,
             coalesce(gc.r, 0) AS r, tc.c
      FROM segs s CROSS JOIN buckets b
      JOIN tc ON tc.bucket = b.bucket
      LEFT JOIN gc ON gc.seg = s.seg AND gc.bucket = b.bucket),
    cums AS (
      SELECT seg, ng, bucket,
             sum(r) OVER w AS cr, sum(c) OVER w AS cc
      FROM grid
      WINDOW w AS (PARTITION BY seg ORDER BY bucket
                   ROWS UNBOUNDED PRECEDING)),
    emd AS (
      SELECT seg, ng,
             sum(abs(CAST(cr AS HUGEINT) * n.n
                     - CAST(cc AS HUGEINT) * ng)) AS sd
      FROM cums CROSS JOIN n GROUP BY seg, ng)
    SELECT emd.seg AS segment,
           CAST(emd.ng AS BIGINT) AS n_rows,
           CAST(CASE WHEN m.m > 1
                     THEN CAST(1000000 AS HUGEINT) * emd.sd
                          // (CAST(m.m - 1 AS HUGEINT) * emd.ng * n.n)
                     ELSE 0 END AS BIGINT) AS tcloseness_micro
    FROM emd CROSS JOIN m CROSS JOIN n
"""


@register(
    "privacy_tcloseness",
    _TCLOSE_SQL,
    "t-closeness audit (Li et al. 2007) of quasi-identifier groups "
    "(market segment) against an ordered sensitive attribute (account "
    "balance in $1000 bins): the ordered-EMD formula (1/(m-1)) * "
    "sum_j |cumP_group - cumP_global| evaluated WITHOUT floats — "
    "cumulative differences are cross-multiplied to the common "
    "denominator N_g*N and accumulated in decimal(38,0)/HUGEINT, then "
    "floor-divided to micro-units. Completes the k-anon/l-div/"
    "t-closeness release trio. Shape: two hash aggs + a (segments x "
    "bins) grid dim with partitioned cumsum windows — the corpus is "
    "scanned once; everything downstream is dim-sized",
)
def privacy_tcloseness(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = _t(spark, sf_dir, "customer")
    v = cust.select(
        F.col("c_mktsegment").alias("seg"),
        F.expr(
            "(CAST(round(c_acctbal * 100, 0) AS BIGINT) + 100000) div 100000"
        ).alias("bucket"),
    )
    buckets = v.select("bucket").distinct()
    m = buckets.agg(F.count(F.lit(1)).alias("m"))
    segs = v.groupBy("seg").agg(F.count(F.lit(1)).alias("ng"))
    n = v.agg(F.count(F.lit(1)).alias("n"))
    gc = v.groupBy("seg", "bucket").agg(F.count(F.lit(1)).alias("r"))
    tc = v.groupBy("bucket").agg(F.count(F.lit(1)).alias("c"))
    grid = (
        segs.crossJoin(F.broadcast(buckets))
        .join(F.broadcast(tc), "bucket")
        .join(F.broadcast(gc), ["seg", "bucket"], "left_outer")
        .select(
            "seg",
            "ng",
            "bucket",
            F.coalesce("r", F.lit(0)).alias("r"),
            "c",
        )
    )
    w = (
        Window.partitionBy("seg")
        .orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cums = grid.select(
        "seg",
        "ng",
        F.sum("r").over(w).alias("cr"),
        F.sum("c").over(w).alias("cc"),
    )
    dec = lambda c: F.col(c).cast("decimal(38,0)")  # noqa: E731
    emd = (
        cums.crossJoin(F.broadcast(n))
        .select(
            "seg",
            "ng",
            F.abs(dec("cr") * F.col("n") - dec("cc") * F.col("ng")).alias(
                "d"
            ),
        )
        .groupBy("seg", "ng")
        .agg(F.sum("d").alias("sd"))
    )
    return (
        emd.crossJoin(F.broadcast(m))
        .crossJoin(F.broadcast(n))
        .select(
            F.col("seg").alias("segment"),
            F.col("ng").cast("bigint").alias("n_rows"),
            F.expr(
                "CAST(CASE WHEN m > 1"
                " THEN CAST(1000000 AS DECIMAL(38,0)) * sd"
                " div (CAST(m - 1 AS DECIMAL(38,0)) * ng * n)"
                " ELSE 0 END AS BIGINT)"
            ).alias("tcloseness_micro"),
        )
    )


# ---------------------------------------------------------------------------
# privacy_dp_counts
# ---------------------------------------------------------------------------

_TWO48 = 281474976710656  # 2^48

_DP_SQL = f"""
    WITH g AS (
      SELECT event_type, CAST(count(*) AS BIGINT) AS n
      FROM events GROUP BY 1),
    u AS (
      SELECT event_type, n,
             -- UBIGINT -> BIGINT before any signed arithmetic (DuckDB
             -- unsigned ops underflow); the 48-bit value fits BIGINT
             2 * CAST(CAST(('0x' || substr(
                   md5(concat_ws('|', 'dp-eps1', event_type)), 1, 12))
                   AS UBIGINT) AS BIGINT) + 1 - {_TWO48} AS s
      FROM g)
    SELECT event_type, n,
           CAST(round(CASE WHEN s < 0 THEN 1.0 ELSE -1.0 END
                 * ln(CAST({_TWO48} - abs(s) AS DOUBLE) / {_TWO48}.0)
                 * 1000000.0, 0) AS BIGINT) AS noise_micro,
           CAST(n * 1000000 + round(CASE WHEN s < 0 THEN 1.0 ELSE -1.0 END
                 * ln(CAST({_TWO48} - abs(s) AS DOUBLE) / {_TWO48}.0)
                 * 1000000.0, 0) AS BIGINT) AS noisy_micro
    FROM u
"""


@register(
    "privacy_dp_counts",
    _DP_SQL,
    "epsilon=1 differentially-private count release per event type "
    "(Laplace mechanism, sensitivity 1): the uniform draw comes from "
    "the md5 stream (seed 'dp-eps1', 48-bit mantissa, +1 offset so u "
    "is never exactly 0 or 1/2), noise = -sgn(u-1/2) * ln(1-2|u-1/2|) "
    "with the ln argument an exact integer ratio — identical doubles "
    "on both engines — PRE-ROUNDED to integer micro-units before any "
    "addition, so the release is bit-reproducible across engines, "
    "partitionings, and retries (a DP release must be computed once "
    "and pinned; a nondeterministic noise source can be averaged "
    "away). Sign via CASE, not signum (Spark signum returns DOUBLE, "
    "DuckDB sign INT). Shape: one hash-agg + a map over |event types|",
)
def privacy_dp_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    g = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )
    u = g.select(
        "event_type",
        "n",
        (
            2
            * det_hash("event_type", seed="dp-eps1", chars=12)
            + 1
            - F.lit(_TWO48)
        ).alias("s"),
    )
    noise = F.round(
        F.when(F.col("s") < 0, F.lit(1.0)).otherwise(F.lit(-1.0))
        * F.log(
            (F.lit(_TWO48) - F.abs("s")).cast("double") / F.lit(float(_TWO48))
        )
        * 1000000.0,
        0,
    ).cast("bigint")
    return u.select(
        "event_type",
        "n",
        noise.alias("noise_micro"),
        (F.col("n") * 1000000 + noise).cast("bigint").alias("noisy_micro"),
    )


# ---------------------------------------------------------------------------
# privacy_small_cell
# ---------------------------------------------------------------------------

_SMALL_CELL_SQL = """
    WITH cells AS (
      SELECT event_type,
             epoch_us(ts) // 86400000000 AS day,
             CAST(count(*) AS BIGINT) AS c
      FROM events GROUP BY 1, 2)
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_cells,
           CAST(sum(CASE WHEN c < 5 THEN 1 ELSE 0 END) AS BIGINT)
             AS suppressed_cells,
           CAST(sum(CASE WHEN c < 5 THEN c ELSE 0 END) AS BIGINT)
             AS suppressed_rows,
           CAST(sum(CASE WHEN c >= 5 THEN c ELSE 0 END) AS BIGINT)
             AS released_rows,
           CAST(sum(CASE WHEN c >= 5 THEN c ELSE 0 END) * 1000
                // sum(c) AS BIGINT) AS released_milli
    FROM cells GROUP BY 1
"""


@register(
    "privacy_small_cell",
    _SMALL_CELL_SQL,
    "small-cell suppression release: (event_type, day) cells with "
    "fewer than k=5 rows are withheld; per type the release reports "
    "kept/suppressed cells and row shares — the tabular-release "
    "sibling of privacy_kanon_release (suppress the cell instead of "
    "generalizing the key), the pre-publication rule for census/"
    "health count tables, and the quick audit of how much data a "
    "given k withholds. Shape: one cell-grain hash-agg + a per-type "
    "rollup — two shuffles, nothing row-level ever leaves the first "
    "agg",
)
def privacy_small_cell(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    cells = ev.groupBy(
        "event_type",
        F.expr("unix_micros(ts) div 86400000000").alias("day"),
    ).agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    return cells.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_cells"),
        F.sum(F.when(F.col("c") < 5, 1).otherwise(0))
        .cast("bigint")
        .alias("suppressed_cells"),
        F.sum(F.when(F.col("c") < 5, F.col("c")).otherwise(0))
        .cast("bigint")
        .alias("suppressed_rows"),
        F.sum(F.when(F.col("c") >= 5, F.col("c")).otherwise(0))
        .cast("bigint")
        .alias("released_rows"),
        F.expr(
            "CAST(sum(CASE WHEN c >= 5 THEN c ELSE 0 END) * 1000"
            " div sum(c) AS BIGINT)"
        ).alias("released_milli"),
    )


# ---------------------------------------------------------------------------
# privacy_k_anonymity
# ---------------------------------------------------------------------------

# quasi-identifier: (event_type, day-of-week, 20-dollar value band).
# day-of-week uses the subtract-pmod floor-day form on BOTH engines
# (the ts_seasonal_naive / dq_mutual_information pattern) so pre-1970
# epochs bucket identically; the value band is a fixed-width integer
# division, truncation-identical on both engines for the non-negative
# cent amounts the testdata carries.
_QI_CLASSES_CTE = """
    classes AS (
      SELECT event_type,
             CAST(((((epoch_us(ts)
                      - (((epoch_us(ts) % 86400000000) + 86400000000)
                         % 86400000000))
                     // 86400000000) % 7) + 7) % 7 AS INT) AS dow,
             CAST(round(value * 100, 0) AS BIGINT) // 2000 AS band,
             CAST(count(*) AS BIGINT) AS k
      FROM events GROUP BY 1, 2, 3)
"""

_K_ANON_SQL = f"""
    WITH {_QI_CLASSES_CTE}
    SELECT event_type,
           CAST(sum(k) AS BIGINT) AS n_rows,
           CAST(count(*) AS BIGINT) AS n_classes,
           CAST(min(k) AS BIGINT) AS min_k,
           CAST(sum(CASE WHEN k < 5 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_unsafe_classes,
           CAST(sum(CASE WHEN k < 5 THEN k ELSE 0 END) AS BIGINT)
             AS n_unsafe_rows,
           CAST(sum(CASE WHEN k < 5 THEN k ELSE 0 END) * 1000
                // sum(k) AS BIGINT) AS risk_milli
    FROM classes GROUP BY 1
"""


def _qi_classes(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    return ev.groupBy(
        "event_type",
        F.expr(
            "CAST(pmod((unix_micros(ts) - pmod(unix_micros(ts), "
            "86400000000)) div 86400000000, 7) AS INT)"
        ).alias("dow"),
        F.expr(
            "CAST(round(value * 100, 0) AS BIGINT) div 2000"
        ).alias("band"),
    ).agg(F.count(F.lit(1)).cast("bigint").alias("k"))


@register(
    "privacy_k_anonymity",
    _K_ANON_SQL,
    "k-anonymity audit of the events table under the quasi-identifier "
    "(event_type, day-of-week, 20-dollar value band): per event_type, "
    "the equivalence-class count, the smallest class, the classes and "
    "rows below k=5, and the at-risk row share in milli — the "
    "re-identification gate run before any dataset leaves the pipeline "
    "(privacy_dp_counts noises counts, privacy_small_cell suppresses "
    "published cells; this measures whether the raw QI partitioning is "
    "safe AT ALL — a min_k of 1 means some row is unique on its "
    "quasi-identifiers and linkable by anyone holding them). "
    "Day-of-week uses the subtract-pmod floor-day form on both engines "
    "(pre-1970-safe); all outputs are exact integers. Shape: one fact "
    "scan hash-agged on the bounded QI domain, then a per-type rollup "
    "— the facts shuffle once, on the QI key",
)
def privacy_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    classes = _qi_classes(spark, sf_dir)
    return classes.groupBy("event_type").agg(
        F.sum("k").cast("bigint").alias("n_rows"),
        F.count(F.lit(1)).cast("bigint").alias("n_classes"),
        F.min("k").cast("bigint").alias("min_k"),
        F.sum(F.when(F.col("k") < 5, 1).otherwise(0))
        .cast("bigint")
        .alias("n_unsafe_classes"),
        F.sum(F.when(F.col("k") < 5, F.col("k")).otherwise(0))
        .cast("bigint")
        .alias("n_unsafe_rows"),
        F.expr(
            "CAST(sum(CASE WHEN k < 5 THEN k ELSE 0 END) * 1000"
            " div sum(k) AS BIGINT)"
        ).alias("risk_milli"),
    )
