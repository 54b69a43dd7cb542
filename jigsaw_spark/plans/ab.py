"""A/B-testing queries (``ab_*``): tests, sequential tests, attribution.

Sequential-test constants are precomputed integer literals shared verbatim
by both engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from jigsaw_spark.plans.registry import _t, register


@register(
    "ab_cuped_adjust",
    """
    WITH per_user AS (
      SELECT user_id,
             CAST(sum(CASE WHEN ts <  TIMESTAMP '2024-01-04'
                           THEN CAST(round(value*100,0) AS BIGINT)
                           ELSE 0 END) AS DOUBLE) / 100 AS x,
             CAST(sum(CASE WHEN ts >= TIMESTAMP '2024-01-04'
                           THEN CAST(round(value*100,0) AS BIGINT)
                           ELSE 0 END) AS DOUBLE) / 100 AS y,
             user_id % 2 AS arm
      FROM events GROUP BY user_id),
    theta AS (
      SELECT covar_pop(x, y) / var_pop(x) AS th, avg(x) AS mx
      FROM per_user)
    SELECT arm,
           count(*) AS n_users,
           round(avg(y), 4) AS mean_y,
           round(avg(y - th * (x - mx)), 4) AS mean_y_cuped,
           round(1 - var_pop(y - th * (x - mx)) / var_pop(y), 4)
             AS var_reduction
    FROM per_user CROSS JOIN theta
    GROUP BY arm
    """,
    "CUPED variance reduction (A/B-testing staple): pre-period covariate "
    "x per user, theta = cov(x,y)/var(x) as a 1-row broadcast, adjusted "
    "metric y - theta(x - mean_x) — per-user sums in exact cents, two "
    "aggs + one broadcast; reports the realized variance reduction",
)
def ab_cuped_adjust(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = _t(spark, sf_dir, "events")
    cents = F.round(F.col("value") * 100, 0).cast("bigint")
    cutoff = F.lit("2024-01-04").cast("timestamp")
    per_user = events.groupBy("user_id").agg(
        (
            F.sum(F.when(F.col("ts") < cutoff, cents).otherwise(0)).cast(
                "double"
            )
            / 100
        ).alias("x"),
        (
            F.sum(F.when(F.col("ts") >= cutoff, cents).otherwise(0)).cast(
                "double"
            )
            / 100
        ).alias("y"),
    ).withColumn("arm", F.col("user_id") % 2)
    theta = per_user.agg(
        (F.covar_pop("x", "y") / F.var_pop("x")).alias("th"),
        F.avg("x").alias("mx"),
    )
    adj = F.col("y") - F.col("th") * (F.col("x") - F.col("mx"))
    return (
        per_user.crossJoin(F.broadcast(theta))
        .groupBy("arm")
        .agg(
            F.count(F.lit(1)).alias("n_users"),
            F.round(F.avg("y"), 4).alias("mean_y"),
            F.round(F.avg(adj), 4).alias("mean_y_cuped"),
            F.round(
                1 - F.var_pop(adj) / F.var_pop("y"), 4
            ).alias("var_reduction"),
        )
    )


@register(
    "ab_ttest_welch",
    """
    WITH assigned AS (
      SELECT CASE WHEN ('0x' || substr(md5('ab-arm|' || CAST(user_id AS VARCHAR)), 1, 12))::UBIGINT % 2 = 0
                  THEN 'control' ELSE 'treatment' END AS arm,
             CAST(round(value * 100) AS BIGINT) AS cents
      FROM events WHERE event_type = 'purchase'),
    stats AS (
      SELECT arm, count(*) AS n,
             sum(cents) AS s,
             sum(CAST(cents AS HUGEINT) * cents) AS q
      FROM assigned GROUP BY arm),
    wide AS (
      SELECT max(CASE WHEN arm = 'control' THEN n END) AS n1,
             max(CASE WHEN arm = 'control' THEN s END) AS s1,
             max(CASE WHEN arm = 'control' THEN q END) AS q1,
             max(CASE WHEN arm = 'treatment' THEN n END) AS n2,
             max(CASE WHEN arm = 'treatment' THEN s END) AS s2,
             max(CASE WHEN arm = 'treatment' THEN q END) AS q2
      FROM stats)
    SELECT CAST(n1 AS BIGINT) AS n_control,
           CAST(n2 AS BIGINT) AS n_treatment,
           round(s1 / (100.0 * n1), 4) AS mean_control,
           round(s2 / (100.0 * n2), 4) AS mean_treatment,
           round((s2 / (100.0 * n2)) - (s1 / (100.0 * n1)), 4) AS lift,
           round(
             ((s2 / (100.0 * n2)) - (s1 / (100.0 * n1)))
             / sqrt(
                 ((q1 - CAST(s1 AS HUGEINT) * s1 / CAST(n1 AS DOUBLE))
                  / (n1 - 1.0)) / 10000.0 / n1
                 + ((q2 - CAST(s2 AS HUGEINT) * s2 / CAST(n2 AS DOUBLE))
                    / (n2 - 1.0)) / 10000.0 / n2
               ),
             4) AS t_welch
    FROM wide
    """,
    "Welch two-sample t statistic over an md5-hash-assigned A/B split "
    "(the deterministic arm assignment every hash-bucketed experiment "
    "uses): ONE conditional agg carries exact integer cent sums and "
    "HUGEINT/decimal squared sums, so means/variances derive from "
    "exact integers and the final t is one identically-ordered double "
    "expression on both engines. Completes the experimentation family "
    "next to ab_cuped_adjust",
)
def ab_ttest_welch(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = _t(spark, sf_dir, "events").filter(
        F.col("event_type") == "purchase"
    )
    arm = F.when(
        F.pmod(
            F.conv(
                F.substring(
                    F.md5(
                        F.concat(
                            F.lit("ab-arm|"), F.col("user_id").cast("string")
                        )
                    ),
                    1,
                    12,
                ),
                16,
                10,
            ).cast("bigint"),
            F.lit(2),
        )
        == 0,
        "control",
    ).otherwise("treatment")
    cents = F.round(F.col("value") * 100).cast("bigint")
    assigned = events.select(arm.alias("arm"), cents.alias("cents"))
    stats = assigned.groupBy("arm").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("cents").alias("s"),
        F.sum(F.col("cents").cast("decimal(19,0)") * F.col("cents")).alias(
            "q"
        ),
    )
    w = stats.agg(
        F.max(F.when(F.col("arm") == "control", F.col("n"))).alias("n1"),
        F.max(F.when(F.col("arm") == "control", F.col("s"))).alias("s1"),
        F.max(F.when(F.col("arm") == "control", F.col("q"))).alias("q1"),
        F.max(F.when(F.col("arm") == "treatment", F.col("n"))).alias("n2"),
        F.max(F.when(F.col("arm") == "treatment", F.col("s"))).alias("s2"),
        F.max(F.when(F.col("arm") == "treatment", F.col("q"))).alias("q2"),
    )
    m1 = F.col("s1") / (100.0 * F.col("n1"))
    m2 = F.col("s2") / (100.0 * F.col("n2"))
    v1 = (
        (
            F.col("q1")
            - F.col("s1").cast("decimal(19,0)") * F.col("s1")
            / F.col("n1").cast("double")
        )
        / (F.col("n1") - 1.0)
    ) / 10000.0
    v2 = (
        (
            F.col("q2")
            - F.col("s2").cast("decimal(19,0)") * F.col("s2")
            / F.col("n2").cast("double")
        )
        / (F.col("n2") - 1.0)
    ) / 10000.0
    return w.select(
        F.col("n1").cast("bigint").alias("n_control"),
        F.col("n2").cast("bigint").alias("n_treatment"),
        F.round(m1, 4).alias("mean_control"),
        F.round(m2, 4).alias("mean_treatment"),
        F.round(m2 - m1, 4).alias("lift"),
        F.round(
            (m2 - m1)
            / F.sqrt(v1 / F.col("n1") + v2 / F.col("n2")),
            4,
        ).alias("t_welch"),
    )


# ---------------------------------------------------------------------------
# ab_chi2_independence
# ---------------------------------------------------------------------------

_CHI2_SQL = """
    WITH obs AS (
      SELECT event_type, CAST(user_id % 2 AS INT) AS variant,
             count(*) AS o
      FROM events GROUP BY 1, 2),
    rt AS (SELECT event_type, sum(o) AS r FROM obs GROUP BY 1),
    ct AS (SELECT variant, sum(o) AS c FROM obs GROUP BY 1),
    n AS (SELECT sum(o) AS n FROM obs)
    SELECT o.event_type, o.variant,
           CAST(o.o AS BIGINT) AS observed,
           round(CAST(rt.r AS DOUBLE) * ct.c / n.n, 4) AS expected,
           round(round(
             (o.o - CAST(rt.r AS DOUBLE) * ct.c / n.n)
             * (o.o - CAST(rt.r AS DOUBLE) * ct.c / n.n)
             / (CAST(rt.r AS DOUBLE) * ct.c / n.n), 9), 6) AS chi2_term
    FROM obs o
    JOIN rt ON o.event_type = rt.event_type
    JOIN ct ON o.variant = ct.variant
    CROSS JOIN n
"""


@register(
    "ab_chi2_independence",
    _CHI2_SQL,
    "chi-square independence test of event type vs experiment variant "
    "(user_id parity): the categorical A/B screen beside the Welch "
    "means test. Observed/row/column/grand totals are ONE hash agg "
    "plus aggregates of the |types|x2 cell dim; expectations and "
    "contributions are one shared double expression from exact "
    "integer counts, emitted PER CELL (the analyst sums the column; "
    "no cross-row float accumulation order exists to diverge)",
)
def ab_chi2_independence(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    obs = ev.groupBy(
        "event_type", (F.col("user_id") % 2).cast("int").alias("variant")
    ).agg(F.count(F.lit(1)).alias("o"))
    rt = obs.groupBy("event_type").agg(F.sum("o").alias("r"))
    ct = obs.groupBy("variant").agg(F.sum("o").alias("c"))
    n = obs.agg(F.sum("o").alias("n"))
    e = F.col("r").cast("double") * F.col("c") / F.col("n")
    return (
        obs.join(F.broadcast(rt), "event_type")
        .join(F.broadcast(ct), "variant")
        .crossJoin(F.broadcast(n))
        .select(
            "event_type",
            "variant",
            F.col("o").cast("bigint").alias("observed"),
            F.round(e, 4).alias("expected"),
            F.round(
                F.round((F.col("o") - e) * (F.col("o") - e) / e, 9), 6
            ).alias("chi2_term"),
        )
    )


# ---------------------------------------------------------------------------
# ab_mann_whitney_u
# ---------------------------------------------------------------------------

_MWU_SQL = """
    WITH x AS (
      SELECT event_type, CAST(user_id % 2 AS INT) AS variant,
             CAST(round(value * 100, 0) AS BIGINT) AS cents
      FROM events),
    g AS (
      SELECT event_type, cents,
             sum(CASE WHEN variant = 1 THEN 1 ELSE 0 END) AS c1,
             count(*) AS tc
      FROM x GROUP BY 1, 2),
    r AS (
      SELECT event_type, cents, c1, tc,
             sum(tc) OVER (PARTITION BY event_type ORDER BY cents) - tc
               AS cum_prev
      FROM g),
    s AS (
      SELECT event_type,
             CAST(sum(c1) AS BIGINT) AS n1,
             CAST(sum(tc - c1) AS BIGINT) AS n0,
             CAST(sum(c1 * (2 * cum_prev + tc + 1)) AS BIGINT) AS r1_2
      FROM r GROUP BY event_type)
    SELECT event_type, n0, n1,
           CAST(r1_2 - n1 * (n1 + 1) AS BIGINT) AS u1_scaled,
           CAST(2 * n0 * n1 - (r1_2 - n1 * (n1 + 1)) AS BIGINT) AS u0_scaled
    FROM s
"""


@register(
    "ab_mann_whitney_u",
    _MWU_SQL,
    "Mann-Whitney U rank-sum test per event type (variant = user "
    "parity) — the nonparametric A/B screen beside Welch's t and the "
    "chi-square test. Tie-averaged ranks are kept EXACT by doubling: "
    "each value's 2x-average-rank is 2*cum_prev + tc + 1 (an integer "
    "from the distinct-value prefix window), so U1_scaled = 2*U1 is "
    "an exact integer and U0+U1 = n0*n1 is checkable. Shape: one "
    "hash agg to the distinct-value dim, one partitioned prefix "
    "window over it, one final agg — the fact table is scanned once",
)
def ab_mann_whitney_u(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    x = ev.select(
        "event_type",
        (F.col("user_id") % 2).cast("int").alias("variant"),
        F.round(F.col("value") * 100, 0).cast("bigint").alias("cents"),
    )
    g = x.groupBy("event_type", "cents").agg(
        F.sum(F.when(F.col("variant") == 1, 1).otherwise(0)).alias("c1"),
        F.count(F.lit(1)).alias("tc"),
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("cents")
        .rangeBetween(Window.unboundedPreceding, 0)
    )
    r = g.select(
        "event_type",
        "c1",
        "tc",
        (F.sum("tc").over(w) - F.col("tc")).alias("cum_prev"),
    )
    s = r.groupBy("event_type").agg(
        F.sum("c1").cast("bigint").alias("n1"),
        F.sum(F.col("tc") - F.col("c1")).cast("bigint").alias("n0"),
        F.sum(F.col("c1") * (2 * F.col("cum_prev") + F.col("tc") + 1))
        .cast("bigint")
        .alias("r1_2"),
    )
    return s.select(
        "event_type",
        "n0",
        "n1",
        (F.col("r1_2") - F.col("n1") * (F.col("n1") + 1))
        .cast("bigint")
        .alias("u1_scaled"),
        (
            2 * F.col("n0") * F.col("n1")
            - (F.col("r1_2") - F.col("n1") * (F.col("n1") + 1))
        )
        .cast("bigint")
        .alias("u0_scaled"),
    )


# ---------------------------------------------------------------------------
# ab_sprt_crossing
# ---------------------------------------------------------------------------

# Wald SPRT, H0: p=0.5 vs H1: p=0.6, alpha = beta = 0.05. Integer micro
# literals (shared verbatim by both engines — no libm at query time):
#   llr(success) = ln(0.6/0.5) * 1e6 = 182322
#   llr(failure) = ln(0.4/0.5) * 1e6 = -223144
#   A = ln((1-beta)/alpha) * 1e6 = ln(19) * 1e6 = 2944439
_SPRT_UP = 182322

_SPRT_DN = -223144

_SPRT_A = 2944439

_SPRT_SQL = f"""
    WITH obs AS (
      SELECT event_type,
             CASE WHEN user_id % 2 = 1 THEN {_SPRT_UP}
                  ELSE {_SPRT_DN} END AS llr,
             epoch_us(ts) AS x, event_id
      FROM events),
    walk AS (
      SELECT event_type,
             sum(llr) OVER w AS cum,
             row_number() OVER w AS rn,
             count(*) OVER (PARTITION BY event_type) AS n
      FROM obs WINDOW w AS (PARTITION BY event_type ORDER BY x, event_id
                            ROWS UNBOUNDED PRECEDING)),
    crossings AS (
      SELECT event_type, rn, n,
             CASE WHEN cum >= {_SPRT_A} THEN 'h1' ELSE 'h0' END AS decision,
             row_number() OVER (PARTITION BY event_type ORDER BY rn) AS k
      FROM walk
      WHERE cum >= {_SPRT_A} OR cum <= -{_SPRT_A}),
    pertype AS (SELECT DISTINCT event_type, n FROM walk)
    SELECT p.event_type,
           CAST(p.n AS BIGINT) AS n_total,
           CAST(coalesce(c.rn, 0) AS BIGINT) AS n_at_decision,
           coalesce(c.decision, 'continue') AS decision
    FROM pertype p
    LEFT JOIN (SELECT * FROM crossings WHERE k = 1) c
      ON p.event_type = c.event_type
"""


@register(
    "ab_sprt_crossing",
    _SPRT_SQL,
    "Wald sequential probability ratio test per event type (H0 p=0.5 "
    "vs H1 p=0.6 on the variant stream, alpha=beta=0.05): the "
    "early-stopping A/B monitor that decides as soon as the evidence "
    "walk leaves (-A, A). Per-observation LLR increments and the "
    "threshold are INTEGER MICRO LITERALS precomputed in the source "
    "(no libm at query time), the walk is one partitioned running "
    "sum over a total (ts, event_id) order, and the first crossing "
    "is a rank selection; types that never cross report 'continue'. "
    "The sequential companion to the fixed-horizon Welch/chi2/U tests",
)
def ab_sprt_crossing(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    obs = ev.select(
        "event_type",
        F.when(F.col("user_id") % 2 == 1, _SPRT_UP)
        .otherwise(_SPRT_DN)
        .alias("llr"),
        F.unix_micros("ts").alias("x"),
        "event_id",
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("x", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    walk = obs.select(
        "event_type",
        F.sum("llr").over(w).alias("cum"),
        F.row_number()
        .over(Window.partitionBy("event_type").orderBy("x", "event_id"))
        .alias("rn"),
        F.count(F.lit(1))
        .over(Window.partitionBy("event_type"))
        .alias("n"),
    )
    crossings = (
        walk.filter(
            (F.col("cum") >= _SPRT_A) | (F.col("cum") <= -_SPRT_A)
        )
        .withColumn(
            "decision",
            F.when(F.col("cum") >= _SPRT_A, "h1").otherwise("h0"),
        )
        .withColumn(
            "k",
            F.row_number().over(
                Window.partitionBy("event_type").orderBy("rn")
            ),
        )
        .filter(F.col("k") == 1)
        .select("event_type", "rn", "decision")
    )
    pertype = walk.select("event_type", "n").distinct()
    return pertype.join(
        F.broadcast(crossings), "event_type", "left_outer"
    ).select(
        "event_type",
        F.col("n").cast("bigint").alias("n_total"),
        F.coalesce("rn", F.lit(0)).cast("bigint").alias("n_at_decision"),
        F.coalesce("decision", F.lit("continue")).alias("decision"),
    )


# ---------------------------------------------------------------------------
# ab_wilson_ci
# ---------------------------------------------------------------------------

_WILSON_SQL = """
    WITH g AS (
      SELECT event_type,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CASE WHEN value > 100 THEN 1 ELSE 0 END) AS BIGINT)
               AS x
      FROM events GROUP BY 1),
    c AS (
      SELECT event_type, n, x,
             CAST(x AS DOUBLE) / n AS p,
             3.8415 / n AS zz_n
      FROM g)
    SELECT event_type, n, x,
           CAST(x * 1000000 // n AS BIGINT) AS p_micro,
           round(round(
             ((p + zz_n / 2.0)
              - 1.9600 * sqrt(p * (1.0 - p) / n + zz_n / (4.0 * n)))
             / (1.0 + zz_n), 9), 6) AS wilson_lo,
           round(round(
             ((p + zz_n / 2.0)
              + 1.9600 * sqrt(p * (1.0 - p) / n + zz_n / (4.0 * n)))
             / (1.0 + zz_n), 9), 6) AS wilson_hi
    FROM c
"""


@register(
    "ab_wilson_ci",
    _WILSON_SQL,
    "95% Wilson score interval per event type for the high-value rate "
    "(value > 100): the binomial interval every A/B readout should "
    "quote — unlike the Wald interval it never leaves [0,1] and stays "
    "honest at p near 0/1 or small n. z = 1.9600, z^2 = 3.8415 as "
    "shared decimal literals (identical doubles both engines); the "
    "whole expression tree is spelled identically on both sides over "
    "integer-derived operands, so the only divergence source is sqrt "
    "ulps — absorbed by the round(round(x,9),6) snap. p_micro is the "
    "exact integer point estimate. Shape: ONE hash-agg + a 5-row map",
)
def ab_wilson_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    g = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(F.when(F.col("value") > 100, 1).otherwise(0))
        .cast("bigint")
        .alias("x"),
    )
    c = g.select(
        "event_type",
        "n",
        "x",
        (F.col("x").cast("double") / F.col("n")).alias("p"),
        (F.lit(3.8415) / F.col("n")).alias("zz_n"),
    )
    half = F.lit(1.9600) * F.sqrt(
        F.col("p") * (F.lit(1.0) - F.col("p")) / F.col("n")
        + F.col("zz_n") / (F.lit(4.0) * F.col("n"))
    )
    center = F.col("p") + F.col("zz_n") / F.lit(2.0)
    den = F.lit(1.0) + F.col("zz_n")
    return c.select(
        "event_type",
        "n",
        "x",
        F.expr("CAST(x * 1000000 div n AS BIGINT)").alias("p_micro"),
        F.round(F.round((center - half) / den, 9), 6).alias("wilson_lo"),
        F.round(F.round((center + half) / den, 9), 6).alias("wilson_hi"),
    )


# ab_paired_ttest ----------------------------------------------------------

_PAIRED_T_SQL = """
    WITH s AS (
      SELECT user_id,
             epoch_us(ts) // 86400000000 AS day,
             CAST(round(value * 100, 0) AS BIGINT) AS cents
      FROM events),
    span AS MATERIALIZED (
      SELECT (min(day) + max(day)) // 2 + 1 AS cut FROM s),
    per_user AS (
      SELECT user_id,
             CAST(sum(CASE WHEN day < (SELECT cut FROM span)
               THEN cents ELSE 0 END) AS BIGINT) AS sx,
             CAST(sum(CASE WHEN day < (SELECT cut FROM span)
               THEN 1 ELSE 0 END) AS BIGINT) AS cx,
             CAST(sum(CASE WHEN day >= (SELECT cut FROM span)
               THEN cents ELSE 0 END) AS BIGINT) AS sy,
             CAST(sum(CASE WHEN day >= (SELECT cut FROM span)
               THEN 1 ELSE 0 END) AS BIGINT) AS cy
      FROM s GROUP BY 1),
    d AS (
      SELECT sy * 1000 // cy - sx * 1000 // cx AS d_milli
      FROM per_user WHERE cx > 0 AND cy > 0),
    agg AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(d_milli) AS HUGEINT) AS sd,
             CAST(sum(CAST(d_milli AS HUGEINT) * d_milli) AS HUGEINT)
               AS sdd
      FROM d)
    SELECT n,
           CAST(sd // n AS BIGINT) AS mean_d_milli,
           round(CASE WHEN n < 2 OR CAST(n AS HUGEINT) * sdd = sd * sd
             THEN 0.0
             ELSE (CAST(sd AS DOUBLE) / n)
                  / sqrt((CAST(sdd AS DOUBLE)
                          - CAST(sd AS DOUBLE) * sd / n)
                         / (n - 1) / n) END, 6) AS t_stat
    FROM agg
"""


@register(
    "ab_paired_ttest",
    _PAIRED_T_SQL,
    "paired t statistic of per-user mean spend, first half vs second "
    "half of the timeline (users active in BOTH halves; per-user "
    "difference of exact milli-cent means) — the WITHIN-subject test "
    "the ab_* family lacked: ab_ttest_welch compares two independent "
    "arms, ab_cuped_adjust shrinks variance with a pre-period "
    "covariate, the paired test removes between-user variance "
    "entirely, which is why before/after product changes are "
    "evaluated paired. EXACT spine: per-user sums/counts in integer "
    "cents, differences floored to milli, sums of d and d^2 in "
    "int128/decimal; only the final t divides in double (identical "
    "operands both engines, round-6 — the ab_ttest_welch float "
    "discipline); degenerate spreads report 0. Shape: one user-keyed "
    "hash-agg (both halves in ONE conditional agg), a 1-row span "
    "broadcast, a 1-row rollup",
)
def ab_paired_ttest(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    s = ev.select(
        "user_id",
        F.expr("unix_micros(ts) div 86400000000").alias("day"),
        F.round(F.col("value") * 100, 0).cast("bigint").alias("cents"),
    )
    span = s.agg(F.expr("(min(day) + max(day)) div 2 + 1").alias("cut"))
    per_user = (
        s.crossJoin(F.broadcast(span))
        .groupBy("user_id")
        .agg(
            F.sum(
                F.when(F.col("day") < F.col("cut"), F.col("cents"))
                .otherwise(0)
            )
            .cast("bigint")
            .alias("sx"),
            F.sum(F.when(F.col("day") < F.col("cut"), 1).otherwise(0))
            .cast("bigint")
            .alias("cx"),
            F.sum(
                F.when(F.col("day") >= F.col("cut"), F.col("cents"))
                .otherwise(0)
            )
            .cast("bigint")
            .alias("sy"),
            F.sum(F.when(F.col("day") >= F.col("cut"), 1).otherwise(0))
            .cast("bigint")
            .alias("cy"),
        )
    )
    dec = "decimal(38,0)"
    d = per_user.filter((F.col("cx") > 0) & (F.col("cy") > 0)).select(
        F.expr("sy * 1000 div cy - sx * 1000 div cx").alias("d_milli")
    )
    agg = d.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(F.col("d_milli").cast(dec)).alias("sd"),
        F.sum(F.col("d_milli").cast(dec) * F.col("d_milli")).alias("sdd"),
    )
    return agg.select(
        "n",
        F.expr("CAST(sd div n AS BIGINT)").alias("mean_d_milli"),
        F.expr(
            "round(CASE WHEN n < 2"
            " OR CAST(n AS DECIMAL(38,0)) * sdd = sd * sd THEN 0.0"
            " ELSE (CAST(sd AS DOUBLE) / n)"
            " / sqrt((CAST(sdd AS DOUBLE)"
            " - CAST(sd AS DOUBLE) * sd / n)"
            " / (n - 1) / n) END, 6)"
        ).alias("t_stat"),
    )


# ab_srm_check -------------------------------------------------------------

_SRM_SQL = """
    WITH exposure AS (
      SELECT DISTINCT event_type, user_id FROM events),
    armed AS (
      SELECT event_type,
             CAST(CAST(('0x' || substr(md5('srm|'
               || CAST(user_id AS VARCHAR)), 1, 12)) AS UBIGINT)
               % CAST(2 AS UBIGINT) AS BIGINT) AS arm
      FROM exposure),
    c AS (
      SELECT event_type,
             CAST(sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_a,
             CAST(sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_b
      FROM armed GROUP BY 1)
    SELECT event_type, n_a, n_b,
           CAST((n_a - n_b) * (n_a - n_b) * 1000 // (n_a + n_b)
             AS BIGINT) AS chi2_milli,
           (n_a - n_b) * (n_a - n_b) * 1000 // (n_a + n_b) > 3841
             AS srm_alarm
    FROM c
"""


@register(
    "ab_srm_check",
    _SRM_SQL,
    "sample-ratio-mismatch gate: users are hash-assigned 50/50 (the "
    "md5 arm convention every ab_* query shares) and the one-dof "
    "chi-square (n_a - n_b)^2 / (n_a + n_b) is computed per "
    "event-type exposure slice — SRM is the FIRST check run on any "
    "experiment (a biased assignment invalidates every downstream "
    "test: ab_ttest_welch / ab_mann_whitney_u assume the split "
    "held), and per-slice SRM catches exposure-path bugs a global "
    "check hides (one surface dropping arm-B users). Alarm at the "
    "0.05 critical value 3.841 — exact integer compare in milli, no "
    "chi-square CDF needed. Shape: one distinct (type, user) "
    "hash-agg, one 5-row rollup; the arm is a map-side hash",
)
def ab_srm_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    exposure = ev.select("event_type", "user_id").distinct()
    armed = exposure.select(
        "event_type",
        F.pmod(
            F.conv(
                F.substring(
                    F.md5(F.concat_ws("|", F.lit("srm"), F.col("user_id"))),
                    1,
                    12,
                ),
                16,
                10,
            ).cast("bigint"),
            F.lit(2),
        ).alias("arm"),
    )
    c = armed.groupBy("event_type").agg(
        F.sum(F.when(F.col("arm") == 0, 1).otherwise(0))
        .cast("bigint")
        .alias("n_a"),
        F.sum(F.when(F.col("arm") == 1, 1).otherwise(0))
        .cast("bigint")
        .alias("n_b"),
    )
    return c.select(
        "event_type",
        "n_a",
        "n_b",
        F.expr(
            "CAST((n_a - n_b) * (n_a - n_b) * 1000 div (n_a + n_b)"
            " AS BIGINT)"
        ).alias("chi2_milli"),
        F.expr(
            "(n_a - n_b) * (n_a - n_b) * 1000 div (n_a + n_b) > 3841"
        ).alias("srm_alarm"),
    )


# ab_power_mde ---------------------------------------------------------------

_POWER_SQL = """
    WITH s AS (
      SELECT CAST(CAST(('0x' || substr(md5('power|'
               || CAST(event_id AS VARCHAR)), 1, 15)) AS UBIGINT)
               % CAST(2 AS UBIGINT) AS BIGINT) AS arm,
             CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
      FROM events),
    agg AS (
      SELECT CAST(sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_a,
             CAST(sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_b,
             CAST(sum(y) AS BIGINT) AS pos,
             CAST(count(*) AS BIGINT) AS n
      FROM s)
    SELECT n_a, n_b,
           CAST(CASE WHEN n = 0 THEN 0
             ELSE pos * 1000000 // n END AS BIGINT) AS p_pooled_micro,
           CAST(CASE WHEN n = 0 OR least(n_a, n_b) = 0 THEN 0
             ELSE CAST(round(2.801585218
               * sqrt(2.0 * (pos * 1000000 // n)
                      * (1000000 - pos * 1000000 // n) / 1000000.0
                      / least(n_a, n_b)), 0) AS BIGINT)
             END AS BIGINT) AS mde_abs_micro,
           CAST(CASE WHEN n = 0 OR least(n_a, n_b) = 0 OR pos = 0 THEN 0
             ELSE CAST(round(2.801585218
               * sqrt(2.0 * (pos * 1000000 // n)
                      * (1000000 - pos * 1000000 // n) / 1000000.0
                      / least(n_a, n_b)), 0) AS BIGINT) * 1000
               // (pos * 1000000 // n) END AS BIGINT) AS mde_rel_milli
    FROM agg
"""


@register(
    "ab_power_mde",
    _POWER_SQL,
    "pre-experiment power check: minimum detectable effect of a 50/50 "
    "md5 split at alpha=0.05 (two-sided) and 80% power — "
    "MDE = (z_{0.975} + z_{0.8}) * sqrt(2 p(1-p) / n_min) with the "
    "pooled rate snapped to integer micro FIRST so the only floats "
    "are the constant z-sum and one IEEE sqrt (correctly rounded in "
    "both engines — the Welch-t precedent), then round-snapped. "
    "ab_srm_check validates the split AFTER the fact; this is the "
    "question asked BEFORE: can this experiment even see the effect "
    "size we care about, or is it theater. Shape: one map-side arm "
    "assignment, ONE 1-row aggregate",
)
def ab_power_mde(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    arm = F.pmod(
        F.conv(
            F.substring(
                F.md5(
                    F.concat_ws("|", F.lit("power"), F.col("event_id"))
                ),
                1,
                15,
            ),
            16,
            10,
        ).cast("bigint"),
        F.lit(2),
    )
    s = ev.select(
        arm.alias("arm"),
        F.when(F.col("event_type") == "purchase", 1)
        .otherwise(0)
        .alias("y"),
    )
    agg = s.agg(
        F.sum(F.when(F.col("arm") == 0, 1).otherwise(0))
        .cast("bigint")
        .alias("n_a"),
        F.sum(F.when(F.col("arm") == 1, 1).otherwise(0))
        .cast("bigint")
        .alias("n_b"),
        F.sum("y").cast("bigint").alias("pos"),
        F.count(F.lit(1)).cast("bigint").alias("n"),
    )
    mde = (
        "CAST(round(2.801585218"
        " * sqrt(2.0 * (pos * 1000000 div n)"
        " * (1000000 - pos * 1000000 div n) / 1000000.0"
        " / least(n_a, n_b)), 0) AS BIGINT)"
    )
    # empty-arm / empty-table guard (advisor r11 #2): sqrt(.../0) is a
    # float div-by-zero and pos*1000000 div 0 an integer one — DuckDB
    # raises while Spark returns NULL, so both engines agree on the 0
    # sentinel instead (the mde_rel_milli CASE pattern, extended)
    return agg.select(
        "n_a",
        "n_b",
        F.expr(
            "CAST(CASE WHEN n = 0 THEN 0"
            " ELSE pos * 1000000 div n END AS BIGINT)"
        ).alias("p_pooled_micro"),
        F.expr(
            f"CAST(CASE WHEN n = 0 OR least(n_a, n_b) = 0 THEN 0"
            f" ELSE {mde} END AS BIGINT)"
        ).alias("mde_abs_micro"),
        F.expr(
            f"CAST(CASE WHEN n = 0 OR least(n_a, n_b) = 0 OR pos = 0"
            f" THEN 0 ELSE {mde} * 1000"
            " div (pos * 1000000 div n) END AS BIGINT)"
        ).alias("mde_rel_milli"),
    )
