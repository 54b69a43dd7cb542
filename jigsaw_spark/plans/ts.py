"""Time-series queries (``ts_*``): sessions, forecasts, change points,
autocorrelation, anomaly rules.

Series pre-aggregate to day grain first (the ``ts_mase`` discipline), so
windows and lag joins run over calendar-bounded per-type series, never over
raw rows. DTW runs its O(n^2) program on the day dim inside one Arrow task;
at finer grain it would need a Sakoe-Chiba band.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from jigsaw_spark.plans.registry import _TDIV, _t, register


# ---------------------------------------------------------------------------
# Time-spine gap filling (resample): hourly counts per event type with
# explicit zero rows for silent hours. The spine is sequence() over the
# 1-row min/max aggregate — generated distributively, never collect()ed to
# the driver — cross-joined with the (tiny) distinct type dim, then a LEFT
# join against the real hourly counts. At 100 TB the only meaningful shuffle
# is the hourly count aggregate; the spine side is rows = hours × types.
# ---------------------------------------------------------------------------


@register(
    "ts_gap_fill",
    """
    WITH bounds AS (
      SELECT date_trunc('hour', min(ts)) AS tmin,
             date_trunc('hour', max(ts)) AS tmax
      FROM events
    ), spine AS (
      SELECT unnest(generate_series(tmin, tmax, INTERVAL 1 HOUR)) AS hour
      FROM bounds
    ), types AS (
      SELECT DISTINCT event_type FROM events
    ), hourly AS (
      SELECT event_type, date_trunc('hour', ts) AS hour, count(*) AS n
      FROM events GROUP BY 1, 2
    )
    SELECT t.event_type, s.hour, coalesce(h.n, 0) AS n
    FROM spine s
    CROSS JOIN types t
    LEFT JOIN hourly h ON h.event_type = t.event_type AND h.hour = s.hour
    """,
    "time-spine resample: zero-filled hourly counts per event type",
)
def ts_gap_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = _t(spark, sf_dir, "events")
    hour = F.date_trunc("hour", F.col("ts"))
    bounds = events.agg(
        F.date_trunc("hour", F.min("ts")).alias("tmin"),
        F.date_trunc("hour", F.max("ts")).alias("tmax"),
    )
    spine = bounds.select(
        F.explode(
            F.sequence(F.col("tmin"), F.col("tmax"), F.expr("interval 1 hour"))
        ).alias("hour")
    )
    types = events.select("event_type").distinct()
    hourly = (
        events.select(F.col("event_type").alias("h_type"), hour.alias("h_hour"))
        .groupBy("h_type", "h_hour")
        .agg(F.count(F.lit(1)).alias("h_n"))
    )
    return (
        spine.crossJoin(F.broadcast(types))
        .join(
            hourly,
            (F.col("h_type") == F.col("event_type"))
            & (F.col("h_hour") == F.col("hour")),
            "left",
        )
        .select(
            "event_type", "hour", F.coalesce(F.col("h_n"), F.lit(0)).alias("n")
        )
    )


# ---------------------------------------------------------------------------
# Inter-event deltas (lag): time since the previous event per user, averaged
# per event type. One shuffle (partition by user for the window), then a
# small re-agg; the (ts, event_id) tiebreaker makes the order total so the
# lag is deterministic under ties.
# ---------------------------------------------------------------------------


@register(
    "ts_deltas",
    """
    SELECT event_type,
           count(gap_us) AS n_gaps,
           round(CAST(sum(gap_us) AS DOUBLE) / count(gap_us) / 1000000.0, 3) AS avg_gap_s
    FROM (
      SELECT event_type,
             epoch_us(ts) - lag(epoch_us(ts)) OVER (
               PARTITION BY user_id ORDER BY ts, event_id) AS gap_us
      FROM events
    )
    WHERE gap_us IS NOT NULL
    GROUP BY event_type
    """,
    "lag-based inter-event gaps per user, averaged per event type",
)
def ts_deltas(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    us = F.unix_micros(F.col("ts"))
    gapped = events.select(
        "event_type", (us - F.lag(us).over(w)).alias("gap_us")
    ).filter(F.col("gap_us").isNotNull())
    return gapped.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_gaps"),
        F.round(
            F.sum("gap_us").cast("double") / F.count("gap_us") / 1000000.0, 3
        ).alias("avg_gap_s"),
    )


# ---------------------------------------------------------------------------
# Funnel: view → click → purchase ordered-step conversion, as chained
# conditional mins: first view, first click after that view, first purchase
# after that click. Every grouped pass keys on user_id, so the fact table
# is shuffled once and the re-aggregations reuse the exchange.
# ---------------------------------------------------------------------------


_FUNNEL_SQL = """
WITH per_user AS (
  SELECT user_id,
         min(CASE WHEN event_type = 'view' THEN ts END) AS t_view
  FROM events GROUP BY user_id
), with_click AS (
  SELECT e.user_id, p.t_view,
         min(CASE WHEN e.event_type = 'click' AND e.ts > p.t_view
                   AND e.ts <= p.t_view + INTERVAL 24 HOUR
                  THEN e.ts END) AS t_click
  FROM events e JOIN per_user p ON e.user_id = p.user_id
  GROUP BY e.user_id, p.t_view
), with_buy AS (
  SELECT c.user_id, c.t_view, c.t_click,
         min(CASE WHEN e.event_type = 'purchase' AND e.ts > c.t_click
                   AND e.ts <= c.t_click + INTERVAL 72 HOUR
                  THEN e.ts END) AS t_buy
  FROM events e JOIN with_click c ON e.user_id = c.user_id
  GROUP BY c.user_id, c.t_view, c.t_click
)
SELECT count(*) AS n_users,
       CAST(sum(CASE WHEN t_view  IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS step_view,
       CAST(sum(CASE WHEN t_click IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS step_click,
       CAST(sum(CASE WHEN t_buy   IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS step_purchase
FROM with_buy
"""


@register(
    "ts_funnel_steps",
    _FUNNEL_SQL,
    "ordered funnel view→click→purchase: chained conditional mins per user",
)
def ts_funnel_steps(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = _t(spark, sf_dir, "events").select("user_id", "event_type", "ts")
    per_user = events.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "view", F.col("ts"))).alias("t_view")
    )
    # every re-aggregation groups on user_id: AQE reuses the exchange, so
    # the chain costs one real shuffle of the fact table, not three.
    with_click = (
        events.join(per_user, "user_id")
        .groupBy("user_id", "t_view")
        .agg(
            F.min(
                F.when(
                    (F.col("event_type") == "click")
                    & (F.col("ts") > F.col("t_view"))
                    & (F.col("ts") <= F.col("t_view") + F.expr("interval 24 hours")),
                    F.col("ts"),
                )
            ).alias("t_click")
        )
    )
    with_buy = (
        events.join(with_click, "user_id")
        .groupBy("user_id", "t_view", "t_click")
        .agg(
            F.min(
                F.when(
                    (F.col("event_type") == "purchase")
                    & (F.col("ts") > F.col("t_click"))
                    & (F.col("ts") <= F.col("t_click") + F.expr("interval 72 hours")),
                    F.col("ts"),
                )
            ).alias("t_buy")
        )
    )
    return with_buy.agg(
        F.count(F.lit(1)).alias("n_users"),
        F.sum(F.when(F.col("t_view").isNotNull(), 1).otherwise(0)).alias("step_view"),
        F.sum(F.when(F.col("t_click").isNotNull(), 1).otherwise(0)).alias(
            "step_click"
        ),
        F.sum(F.when(F.col("t_buy").isNotNull(), 1).otherwise(0)).alias(
            "step_purchase"
        ),
    )


# ---------------------------------------------------------------------------
# Cohort retention: users grouped by first-active day, counted per day
# offset. Two aggregates over the same user_id shuffle key (first-day, then
# join back) — the join is on user_id so it rides the same exchange; the
# final (cohort, offset) agg is tiny (days × days).
# ---------------------------------------------------------------------------


@register(
    "ts_cohort_retention",
    """
    WITH firstday AS (
      SELECT user_id, CAST(min(ts) AS DATE) AS cohort_day
      FROM events GROUP BY user_id
    )
    SELECT CAST(f.cohort_day AS VARCHAR) AS cohort_day,
           date_diff('day', f.cohort_day, CAST(e.ts AS DATE)) AS day_offset,
           count(DISTINCT e.user_id) AS active_users
    FROM events e JOIN firstday f ON e.user_id = f.user_id
    GROUP BY 1, 2
    """,
    "cohort retention: first-day cohorts × day offsets × distinct actives",
)
def ts_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = _t(spark, sf_dir, "events").select("user_id", "ts")
    firstday = events.groupBy("user_id").agg(
        F.to_date(F.min("ts")).alias("cohort_day")
    )
    return (
        events.join(firstday, "user_id")
        .select(
            # ISO string, not DATE — pandas dtype parity (r4 sweep find)
            F.col("cohort_day").cast("string").alias("cohort_day"),
            F.datediff(F.to_date(F.col("ts")), F.col("cohort_day")).alias(
                "day_offset"
            ),
            "user_id",
        )
        .groupBy("cohort_day", "day_offset")
        .agg(F.count_distinct("user_id").alias("active_users"))
    )


@register(
    "ts_locf",
    """
    SELECT event_id, user_id,
           round(last_value(v IGNORE NULLS) OVER (
             PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 4) AS v_locf
    FROM (SELECT event_id, user_id, ts,
                 CASE WHEN event_type = 'error' THEN NULL ELSE value END AS v
          FROM events)
    """,
    "last-observation-carried-forward: ignore-nulls last_value over an "
    "explicit running frame — the sensor/telemetry gap-fill pattern; one "
    "shuffle on the partition key",
)
def ts_locf(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    ev = _t(spark, sf_dir, "events")
    v = F.when(F.col("event_type") == "error", F.lit(None)).otherwise(
        F.col("value")
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return ev.select(
        "event_id",
        "user_id",
        F.round(F.last(v, ignorenulls=True).over(w), 4).alias("v_locf"),
    )


@register(
    "ts_interp",
    """
    WITH marked AS (
      SELECT event_id, user_id, ts,
             CASE WHEN event_type = 'error' THEN NULL
                  ELSE round(value, 4) END AS v
      FROM events
    ), bounds AS (
      SELECT event_id, user_id, ts, v,
             last_value(v IGNORE NULLS) OVER w_back  AS v_prev,
             epoch_us(ts) - last_value(CASE WHEN v IS NOT NULL
                 THEN epoch_us(ts) END IGNORE NULLS) OVER w_back AS dt_prev,
             first_value(v IGNORE NULLS) OVER w_fwd  AS v_next,
             first_value(CASE WHEN v IS NOT NULL
                 THEN epoch_us(ts) END IGNORE NULLS) OVER w_fwd
               - epoch_us(ts) AS dt_next
      FROM marked
      WINDOW w_back AS (PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
             w_fwd AS (PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
    )
    SELECT event_id, user_id,
           round(CASE
             WHEN v IS NOT NULL THEN v
             WHEN v_prev IS NOT NULL AND v_next IS NOT NULL THEN
               v_prev + (v_next - v_prev)
                 * dt_prev / nullif(dt_prev + dt_next, 0)
             ELSE coalesce(v_prev, v_next) END, 4) AS v_interp
    FROM bounds
    """,
    "linear time-interpolation of gaps: previous/next observations + "
    "event-time distances from two ignore-nulls window passes over one "
    "partition shuffle; boundary gaps fall back to nearest observation",
)
def ts_interp(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    ev = _t(spark, sf_dir, "events")
    v = F.when(F.col("event_type") == "error", F.lit(None)).otherwise(
        F.round(F.col("value"), 4)
    )
    us = F.unix_micros(F.col("ts"))
    w_back = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_fwd = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    marked = ev.select("event_id", "user_id", "ts", v.alias("v"))
    t_obs = F.when(F.col("v").isNotNull(), us)
    bounds = marked.select(
        "event_id",
        "user_id",
        "v",
        F.last("v", ignorenulls=True).over(w_back).alias("v_prev"),
        (us - F.last(t_obs, ignorenulls=True).over(w_back)).alias("dt_prev"),
        F.first("v", ignorenulls=True).over(w_fwd).alias("v_next"),
        (F.first(t_obs, ignorenulls=True).over(w_fwd) - us).alias("dt_next"),
    )
    interp = (
        F.when(F.col("v").isNotNull(), F.col("v"))
        .when(
            F.col("v_prev").isNotNull() & F.col("v_next").isNotNull(),
            F.col("v_prev")
            + (F.col("v_next") - F.col("v_prev"))
            * F.col("dt_prev")
            / F.nullif(F.col("dt_prev") + F.col("dt_next"), F.lit(0)),
        )
        .otherwise(F.coalesce("v_prev", "v_next"))
    )
    return bounds.select(
        "event_id", "user_id", F.round(interp, 4).alias("v_interp")
    )


@register(
    "ts_ohlc",
    """
    WITH o AS (
      SELECT user_id, date_trunc('hour', ts) AS bucket, value,
             row_number() OVER (PARTITION BY user_id, date_trunc('hour', ts)
                                ORDER BY ts, event_id) AS rn_a,
             row_number() OVER (PARTITION BY user_id, date_trunc('hour', ts)
                                ORDER BY ts DESC, event_id DESC) AS rn_d
      FROM events)
    SELECT user_id, bucket,
           max(CASE WHEN rn_a = 1 THEN value END) AS open,
           max(CASE WHEN rn_d = 1 THEN value END) AS close,
           min(value) AS low, max(value) AS high,
           count(*) AS n
    FROM o GROUP BY user_id, bucket
    """,
    "time-series downsampling to OHLC candles (per user per hour): "
    "open/close via min_by/max_by over the (ts, event_id) total order — "
    "ONE hash aggregate, no window, no sort (the oracle's two-window "
    "row_number formulation is the plan this one avoids)",
)
def ts_ohlc(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    okey = F.struct(F.col("ts"), F.col("event_id"))
    return ev.groupBy(
        "user_id", F.date_trunc("hour", "ts").alias("bucket")
    ).agg(
        F.min_by("value", okey).alias("open"),
        F.max_by("value", okey).alias("close"),
        F.min("value").alias("low"),
        F.max("value").alias("high"),
        F.count(F.lit(1)).alias("n"),
    )


_EWM_ALPHA = 0.3

_EWM_WIN = 20


@register(
    "ts_ewma",
    f"""
    WITH arrs AS (
      SELECT user_id, ts, event_id, value,
             list(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                               ROWS BETWEEN {_EWM_WIN - 1} PRECEDING
                               AND CURRENT ROW) AS w
      FROM events)
    SELECT user_id, event_id,
           round(
             list_sum(list_transform(list_reverse(w),
                      (x, i) -> x * power({1 - _EWM_ALPHA}, i - 1)))
             / list_sum(list_transform(list_reverse(w),
                      (x, i) -> power({1 - _EWM_ALPHA}, i - 1))),
             6) AS ewma
    FROM arrs
    """,
    "window-truncated exponentially-weighted mean (pandas ewm "
    "adjust=True semantics over a 20-row frame): the collected frame is "
    "bounded, so per-row state is O(window) not O(history) — the "
    "scale-safe EWMA form; ONE key shuffle",
)
def ts_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    events = _t(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-(_EWM_WIN - 1), 0)
    )
    arr = F.reverse(F.collect_list("value").over(w))
    decay = F.transform(
        arr, lambda x, i: F.pow(F.lit(1 - _EWM_ALPHA), i.cast("double"))
    )
    num = F.aggregate(
        F.zip_with(arr, decay, lambda x, d: x * d),
        F.lit(0.0),
        lambda a, x: a + x,
    )
    den = F.aggregate(decay, F.lit(0.0), lambda a, x: a + x)
    return events.select(
        "user_id", "event_id", F.round(num / den, 6).alias("ewma")
    )


_IV_SPAN_US = 300_000_000  # each event opens a 5-minute activity interval


@register(
    "ts_interval_union",
    f"""
    WITH iv AS (
      SELECT user_id, event_id,
             epoch_us(ts) AS s, epoch_us(ts) + {_IV_SPAN_US} AS e
      FROM events),
    flagged AS (
      SELECT user_id, event_id, s, e,
             CASE WHEN max(e) OVER (PARTITION BY user_id ORDER BY s, event_id
                                    ROWS BETWEEN UNBOUNDED PRECEDING
                                    AND 1 PRECEDING) >= s
                  THEN 0 ELSE 1 END AS new_grp
      FROM iv),
    grouped AS (
      SELECT user_id, s, e,
             sum(new_grp) OVER (PARTITION BY user_id ORDER BY s, event_id
                                ROWS BETWEEN UNBOUNDED PRECEDING
                                AND CURRENT ROW) AS grp
      FROM flagged),
    merged AS (
      SELECT user_id, grp, min(s) AS ms, max(e) AS me
      FROM grouped GROUP BY user_id, grp)
    SELECT user_id,
           count(*) AS n_intervals,
           CAST(sum(me - ms) AS BIGINT) AS active_us
    FROM merged GROUP BY user_id
    """,
    "interval-union (merged activity time): the distributed sweep-line "
    "— running-max-end flags island starts, running sum numbers them, "
    "ONE key shuffle shared by both windows and the merge agg; exact "
    "integer-microsecond arithmetic. Both windows order by the same "
    "total key (s, event_id): ordering the running sum by (s, e) was "
    "ambiguous on tied starts (e is s + a constant), so a tied row "
    "could attach to the wrong island depending on partitioning "
    "(advisor finding, r2)",
)
def ts_interval_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    events = _t(spark, sf_dir, "events")
    iv = events.select(
        "user_id",
        "event_id",
        F.unix_micros("ts").alias("s"),
        (F.unix_micros("ts") + F.lit(_IV_SPAN_US)).alias("e"),
    )
    w_prev = (
        Window.partitionBy("user_id")
        .orderBy("s", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    flagged = iv.select(
        "user_id",
        "event_id",
        "s",
        "e",
        F.when(F.max("e").over(w_prev) >= F.col("s"), F.lit(0))
        .otherwise(F.lit(1))
        .alias("new_grp"),
    )
    w_run = (
        Window.partitionBy("user_id")
        .orderBy("s", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    grouped = flagged.withColumn("grp", F.sum("new_grp").over(w_run))
    merged = grouped.groupBy("user_id", "grp").agg(
        F.min("s").alias("ms"), F.max("e").alias("me")
    )
    return merged.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_intervals"),
        F.sum(F.col("me") - F.col("ms")).cast("bigint").alias("active_us"),
    )


@register(
    "ts_cusum_changepoints",
    """
    WITH c0 AS (
      SELECT user_id, ts, event_id,
             CAST(round(value * 100) AS BIGINT) AS vi
      FROM events),
    stats AS (
      SELECT count(*) AS n, sum(vi) AS t,
             sum(CAST(vi AS HUGEINT) * vi) AS q
      FROM c0),
    c AS (
      SELECT user_id, n, t, q,
             n * sum(vi) OVER (PARTITION BY user_id ORDER BY ts, event_id
                               ROWS BETWEEN UNBOUNDED PRECEDING
                               AND CURRENT ROW)
             - count(*) OVER (PARTITION BY user_id ORDER BY ts, event_id
                              ROWS BETWEEN UNBOUNDED PRECEDING
                              AND CURRENT ROW) * t AS d
      FROM c0 CROSS JOIN stats)
    SELECT user_id,
           count(*) AS n_events,
           CAST(sum(CASE WHEN CAST(d AS HUGEINT) * d
                              > 90 * (n * q - CAST(t AS HUGEINT) * t)
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_alarms,
           round(max(abs(d)) / (100.0 * max(n)), 4) AS max_dev
    FROM c GROUP BY user_id
    """,
    "CUSUM drift detection per user: running deviation sum in ONE "
    "key-partitioned window, alarms where |cusum| exceeds "
    "k*sigma*sqrt(n_window). Entirely in exact integer cents: with "
    "D_k = n*S_k - k*T (S_k running sum, T/n/Q global sums), "
    "cusum_k = D_k/(100n) and the alarm test |cusum|>3*sd*sqrt(10) "
    "is exactly D_k^2 > 90*(n*Q - T^2) — integer comparison, no float "
    "boundary can flip between engines (r2 hash-flake fix); D_k itself "
    "AND the squares are formed in decimal(38,0)/HUGEINT so neither the "
    "running term n*S_k nor D_k^2 can wrap int64 at scale",
)
def ts_cusum_changepoints(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    events = _t(spark, sf_dir, "events").select(
        "user_id",
        "ts",
        "event_id",
        F.round(F.col("value") * 100).cast("bigint").alias("vi"),
    )
    stats = events.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("vi").alias("t"),
        F.sum(F.col("vi").cast("decimal(19,0)") * F.col("vi")).alias("q"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    # d = n*S_k - k*T formed in decimal(38,0): n*S_k alone exceeds int64
    # at scale (n ~ 1e9 rows x cent sums ~ 1e11 wraps silently in
    # non-ANSI Spark while DuckDB's window sum is HUGEINT-exact) —
    # mirror of the q/v decimal handling below.
    c = events.crossJoin(F.broadcast(stats)).select(
        "user_id",
        "n",
        (
            F.col("n").cast("decimal(38,0)")
            * F.sum("vi").over(w).cast("decimal(38,0)")
            - F.count(F.lit(1)).over(w).cast("decimal(38,0)")
            * F.col("t").cast("decimal(38,0)")
        ).alias("d"),
        (
            F.col("n").cast("decimal(19,0)") * F.col("q")
            - F.col("t").cast("decimal(19,0)") * F.col("t")
        ).alias("v"),
    )
    alarm = F.col("d") * F.col("d") > F.lit(90).cast("decimal(19,0)") * F.col(
        "v"
    )
    return c.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(alarm.cast("long")).alias("n_alarms"),
        F.round(
            F.max(F.abs("d")) / (F.lit(100.0) * F.max("n")), 4
        ).alias("max_dev"),
    )


@register(
    "ts_seasonal_naive_mape",
    """
    WITH hourly AS (
      SELECT user_id, date_trunc('hour', ts) AS h,
             sum(CAST(round(value * 100, 0) AS BIGINT)) AS cents
      FROM events GROUP BY user_id, date_trunc('hour', ts)),
    j AS (
      SELECT a.user_id, a.h, a.cents AS actual, b.cents AS predicted
      FROM hourly a
      JOIN hourly b ON b.user_id = a.user_id
                   AND b.h = a.h - INTERVAL 24 HOURS)
    SELECT user_id,
           count(*) AS n_hours,
           round(avg(abs(actual - predicted)
                     / CAST(actual AS DOUBLE)), 6) AS mape
    FROM j WHERE actual <> 0
    GROUP BY user_id
    """,
    "seasonal-naive forecast error (predict this hour = same hour "
    "yesterday): hourly exact-cent rollup, ONE self-join on the shifted "
    "key (equi-join, not a window over 24h of rows), per-user MAPE — "
    "the baseline every forecasting pipeline must beat",
)
def ts_seasonal_naive_mape(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = _t(spark, sf_dir, "events")
    hourly = events.groupBy(
        "user_id", F.date_trunc("hour", "ts").alias("h")
    ).agg(
        F.sum(F.round(F.col("value") * 100, 0).cast("bigint")).alias("cents")
    )
    a = hourly.alias("a")
    b = hourly.select(
        F.col("user_id"),
        (F.col("h") + F.expr("INTERVAL 24 HOURS")).alias("h"),
        F.col("cents").alias("predicted"),
    ).alias("b")
    j = a.join(b, ["user_id", "h"]).select(
        "user_id", F.col("cents").alias("actual"), "predicted"
    )
    return (
        j.filter(F.col("actual") != 0)
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_hours"),
            F.round(
                F.avg(
                    F.abs(F.col("actual") - F.col("predicted"))
                    / F.col("actual").cast("double")
                ),
                6,
            ).alias("mape"),
        )
    )


_GAP_MIN = 30


@register(
    "ts_sessionize",
    f"""
    WITH ev AS (
      SELECT user_id, event_id, event_type, ts,
             CAST(floor(epoch(ts)) AS BIGINT) AS es
      FROM events),
    flagged AS (
      SELECT user_id, event_id, event_type, ts, es,
             CASE WHEN lag(es) OVER w IS NULL
                       OR es - lag(es) OVER w > {_GAP_MIN * 60}
                  THEN 1 ELSE 0 END AS new_sess
      FROM ev
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
    sess AS (
      SELECT user_id, event_id, event_type, es,
             CAST(sum(new_sess) OVER (PARTITION BY user_id
                                      ORDER BY ts, event_id
                                      ROWS BETWEEN UNBOUNDED PRECEDING
                                      AND CURRENT ROW) AS INT) AS session_id
      FROM flagged)
    SELECT user_id, session_id,
           count(*) AS n_events,
           CAST(max(es) - min(es) AS BIGINT) AS duration_sec,
           CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                AS BIGINT) AS n_purchases
    FROM sess GROUP BY user_id, session_id
    """,
    "gap-based batch sessionization (30-min inactivity boundary, the "
    "batch twin of stream_stateful_sessions): lag-flag + running-sum "
    "island numbering in two windows sharing ONE (user) Exchange+Sort, "
    "then a (user,session) hash agg. Gap tests on floor-second epochs — "
    "exact integer comparisons on both engines",
)
def ts_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    from jigsaw_spark.operators.aggregates import sessionize

    events = _t(spark, sf_dir, "events").select(
        "user_id", "event_id", "event_type", "ts"
    )
    s = sessionize(
        events, "user_id", "ts", gap_minutes=_GAP_MIN, tiebreak_col="event_id"
    )
    es = F.col("ts").cast("long")
    return s.groupBy("user_id", "session_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        (F.max(es) - F.min(es)).cast("bigint").alias("duration_sec"),
        F.sum((F.col("event_type") == "purchase").cast("int"))
        .cast("bigint")
        .alias("n_purchases"),
    )


# ---------------------------------------------------------------------------
# ts_decompose_ma
# ---------------------------------------------------------------------------

_DECOMP_SQL = """
    WITH daily AS (
      SELECT event_type,
             strftime(ts, '%Y-%m-%d') AS day,
             CAST(epoch_us(ts) // 86400000000 AS BIGINT) AS day_id,
             sum(CAST(round(value * 100, 0) AS BIGINT)) AS cents
      FROM events GROUP BY 1, 2, 3),
    tr AS (
      SELECT event_type, day, day_id, cents,
             sum(cents) OVER w AS t7,
             count(*) OVER w AS n7
      FROM daily
      WINDOW w AS (PARTITION BY event_type ORDER BY day_id
                   ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)),
    det AS (
      SELECT event_type, day, day_id, cents,
             t7, 7 * cents - t7 AS d7,
             CAST(extract(dow FROM CAST(day AS DATE)) AS INT) AS dow
      FROM tr WHERE n7 = 7),
    seas AS (
      SELECT event_type, dow,
             sum(d7) AS sd7, count(*) AS nd
      FROM det GROUP BY 1, 2)
    SELECT d.event_type, d.day,
           round(d.cents / 100.0, 2) AS value,
           round(d.t7 / 700.0, 4) AS trend,
           round(s.sd7 / (700.0 * s.nd), 4) AS seasonal,
           round(round(d.cents / 100.0, 2) - round(d.t7 / 700.0, 4)
                 - round(s.sd7 / (700.0 * s.nd), 4), 4) AS residual
    FROM det d JOIN seas s ON d.event_type = s.event_type AND d.dow = s.dow
"""


@register(
    "ts_decompose_ma",
    _DECOMP_SQL,
    "classical seasonal decomposition (trend = centered 7-day moving "
    "average, seasonal = day-of-week mean of the detrended series, "
    "residual = remainder) per event type — the moving-average STL "
    "ancestor every monitoring stack ships. All intermediate state is "
    "exact integer cents (detrended series scaled x7 so it stays "
    "integer); the corpus collapses to the per-(type,day) aggregate in "
    "ONE hash agg, every window after runs partitioned by type on the "
    "bounded day dim",
)
def ts_decompose_ma(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type",
        F.date_format("ts", "yyyy-MM-dd").alias("day"),
        (F.unix_micros("ts") / F.lit(86400000000)).cast("bigint").alias(
            "day_id"
        ),
    ).agg(
        F.sum(F.round(F.col("value") * 100, 0).cast("bigint")).alias("cents")
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("day_id")
        .rowsBetween(-3, 3)
    )
    tr = daily.select(
        "event_type",
        "day",
        "cents",
        F.sum("cents").over(w).alias("t7"),
        F.count(F.lit(1)).over(w).alias("n7"),
    ).filter(F.col("n7") == 7)
    det = tr.withColumn("d7", 7 * F.col("cents") - F.col("t7")).withColumn(
        "dow", (F.dayofweek(F.to_date("day")) - 1).cast("int")
    )
    seas = det.groupBy("event_type", "dow").agg(
        F.sum("d7").alias("sd7"), F.count(F.lit(1)).alias("nd")
    )
    value = F.round(F.col("cents") / 100.0, 2)
    trend = F.round(F.col("t7") / 700.0, 4)
    seasonal = F.round(F.col("sd7") / (700.0 * F.col("nd")), 4)
    return det.join(F.broadcast(seas), ["event_type", "dow"]).select(
        "event_type",
        "day",
        value.alias("value"),
        trend.alias("trend"),
        seasonal.alias("seasonal"),
        F.round(value - trend - seasonal, 4).alias("residual"),
    )


# ---------------------------------------------------------------------------
# ts_lttb_fixed
# ---------------------------------------------------------------------------

_LTTB_K = 50

_LTTB_SQL = f"""
    WITH pts0 AS (
      SELECT event_id, ts, epoch_us(ts) AS xa,
             CAST(round(value * 100, 0) AS BIGINT) AS y
      FROM events WHERE event_type = 'click'),
    bounds AS (SELECT min(xa) AS x0, max(xa) AS x1 FROM pts0),
    bk AS (
      SELECT p.event_id, p.ts, (p.xa - b.x0) // 1000000 AS x, p.y,
             CAST(((p.xa - b.x0) * {_LTTB_K}) // (b.x1 - b.x0 + 1) AS BIGINT)
               AS bucket
      FROM pts0 p CROSS JOIN bounds b),
    st AS (
      SELECT bucket, count(*) AS n,
             sum(x) AS sx, sum(y) AS sy
      FROM bk GROUP BY bucket),
    anchors AS (
      SELECT bucket,
             lag(sx)  OVER (ORDER BY bucket)
               // lag(n)  OVER (ORDER BY bucket) AS px,
             lag(sy)  OVER (ORDER BY bucket)
               // lag(n)  OVER (ORDER BY bucket) AS py,
             lead(sx) OVER (ORDER BY bucket)
               // lead(n) OVER (ORDER BY bucket) AS nx,
             lead(sy) OVER (ORDER BY bucket)
               // lead(n) OVER (ORDER BY bucket) AS ny
      FROM st),
    scored AS (
      SELECT b.bucket, b.event_id, b.ts, b.y,
             CASE
               WHEN a.px IS NULL OR a.nx IS NULL THEN NULL
               ELSE CAST(abs((a.px - a.nx) * (b.y - a.py)
                             - (a.px - b.x) * (a.ny - a.py)) AS BIGINT)
             END AS area2,
             row_number() OVER (
               PARTITION BY b.bucket
               ORDER BY
                 CASE WHEN a.px IS NULL THEN b.x
                      WHEN a.nx IS NULL THEN -b.x
                      ELSE NULL END ASC NULLS LAST,
                 CASE WHEN a.px IS NOT NULL AND a.nx IS NOT NULL
                      THEN abs((a.px - a.nx) * (b.y - a.py)
                               - (a.px - b.x) * (a.ny - a.py))
                      ELSE NULL END DESC NULLS LAST,
                 b.ts, b.event_id) AS rn
      FROM bk b JOIN anchors a ON b.bucket = a.bucket)
    SELECT CAST(bucket AS INT) AS bucket, event_id,
           CAST(ts AS TIMESTAMP) AS ts,
           round(y / 100.0, 2) AS value, area2
    FROM scored WHERE rn = 1
"""


@register(
    "ts_lttb_fixed",
    _LTTB_SQL,
    "LTTB downsampling (largest-triangle-three-buckets, fixed-anchor "
    "variant: anchors are the NEIGHBOR-BUCKET mean points instead of "
    "the previously selected point, which removes the sequential "
    "dependency and makes the pick per bucket independent = fully "
    "parallel): 50 time-range buckets, per bucket the point with the "
    "max triangle area vs the neighbor anchors survives (first/last "
    "bucket keep the first/last point, per the LTTB contract). Anchor "
    "means are QUANTIZED to integer (second, cent) coordinates via "
    "floor division, so the doubled triangle area is an EXACT int64 "
    "bounded by the value domain (~1e12), not the corpus size — no "
    "float enters the selection; ties break on (ts, event_id). "
    "Corpus -> ONE hash agg for bucket stats (50 rows), "
    "anchors via lag/lead on that dim, ONE broadcast join back, ONE "
    "partitioned top-1 window — the dashboard-downsample shape that "
    "holds at any scale",
)
def ts_lttb_fixed(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events").filter(F.col("event_type") == "click")
    pts = ev.select(
        "event_id",
        "ts",
        F.unix_micros("ts").alias("xa"),
        F.round(F.col("value") * 100, 0).cast("bigint").alias("y"),
    )
    bounds = pts.agg(F.min("xa").alias("x0"), F.max("xa").alias("x1"))
    # x re-based to micros-since-start: per-bucket sums then stay below
    # 2^53, where int->double conversion is exact on every engine (the
    # absolute-epoch form diverged: DuckDB's HUGEINT sum rounds to
    # double differently above 2^53). Areas are translation-invariant,
    # so the re-base changes nothing semantically. Bucket assignment is
    # INTEGER division on both sides (double-divide-then-cast can flip
    # a boundary row).
    bk = pts.crossJoin(F.broadcast(bounds)).select(
        "event_id",
        "ts",
        F.expr("(xa - x0) div 1000000").alias("x"),
        "y",
        F.expr(
            f"((xa - x0) * {_LTTB_K}) div (x1 - x0 + 1)"
        ).alias("bucket"),
    )
    st = bk.groupBy("bucket").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
    )
    wo = Window.orderBy("bucket")
    # anchors quantized by floor division (all sums non-negative, so
    # Spark's truncating `div` == DuckDB's flooring `//`)
    anchors = st.select(
        "bucket",
        F.expr("lag(sx) over (order by bucket) div lag(n) over (order by bucket)").alias("px"),
        F.expr("lag(sy) over (order by bucket) div lag(n) over (order by bucket)").alias("py"),
        F.expr("lead(sx) over (order by bucket) div lead(n) over (order by bucket)").alias("nx"),
        F.expr("lead(sy) over (order by bucket) div lead(n) over (order by bucket)").alias("ny"),
    )
    j = bk.join(F.broadcast(anchors), "bucket")
    area_raw = F.abs(
        (F.col("px") - F.col("nx")) * (F.col("y") - F.col("py"))
        - (F.col("px") - F.col("x")) * (F.col("ny") - F.col("py"))
    )
    area = F.when(
        F.col("px").isNull() | F.col("nx").isNull(), F.lit(None)
    ).otherwise(area_raw.cast("bigint"))
    first_key = F.when(F.col("px").isNull(), F.col("x")).when(
        F.col("nx").isNull(), -F.col("x")
    )
    wsel = Window.partitionBy("bucket").orderBy(
        first_key.asc_nulls_last(),
        F.when(
            F.col("px").isNotNull() & F.col("nx").isNotNull(), area_raw
        ).desc_nulls_last(),
        "ts",
        "event_id",
    )
    scored = j.select(
        "bucket",
        "event_id",
        "ts",
        "y",
        area.alias("area2"),
        F.row_number().over(wsel).alias("rn"),
    )
    return scored.filter(F.col("rn") == 1).select(
        F.col("bucket").cast("int").alias("bucket"),
        "event_id",
        "ts",
        F.round(F.col("y") / 100.0, 2).alias("value"),
        "area2",
    )


# ---------------------------------------------------------------------------
# ts_holt_exact
# ---------------------------------------------------------------------------

# truncated-toward-zero halving — Spark div and duckdb 1.0 integer //
# both truncate toward zero (verified r9; Python // floors), so the CASE
# guard is an explicit spelling kept for engine-version robustness — the
# tdiv discipline from the exact-iterative quartet (see operators/ml._tdiv)
_TDIV2 = "(CASE WHEN {x} >= 0 THEN ({x}) // 2 ELSE -((-({x})) // 2) END)"

_HOLT_SQL = f"""
    WITH RECURSIVE daily AS MATERIALIZED (
      SELECT event_type,
             strftime(ts, '%Y-%m-%d') AS day,
             row_number() OVER (PARTITION BY event_type
                                ORDER BY strftime(ts, '%Y-%m-%d')) AS i,
             sum(CAST(round(value * 100, 0) AS BIGINT)) AS y
      FROM events GROUP BY event_type, strftime(ts, '%Y-%m-%d')),
    h AS (
      SELECT event_type, i, day, y, y AS l, CAST(0 AS BIGINT) AS b
      FROM daily WHERE i = 1
      UNION ALL
      SELECT d.event_type, d.i, d.day, d.y,
             {_TDIV2.format(x='d.y + h.l + h.b')} AS l,
             {_TDIV2.format(
                 x=_TDIV2.format(x='d.y + h.l + h.b') + ' - h.l + h.b'
             )} AS b
      FROM h JOIN daily d
        ON d.event_type = h.event_type AND d.i = h.i + 1)
    SELECT event_type, day,
           CAST(y AS BIGINT) AS value_cents,
           CAST(l AS BIGINT) AS level_cents,
           CAST(b AS BIGINT) AS trend_cents,
           CAST(l + b AS BIGINT) AS forecast_cents
    FROM h
"""


@register(
    "ts_holt_exact",
    _HOLT_SQL,
    "Holt double exponential smoothing (alpha=beta=1/2) per event type "
    "with the WHOLE trajectory in exact integer cents: l_t = "
    "tdiv(y_t + l + b, 2), b_t = tdiv(l_t - l + b, 2), forecast = l+b "
    "— truncated division keeps every state integer, so the recursion "
    "is bit-identical across engines/partitionings. The Spark side is "
    "the per-group SEQUENTIAL-RECURSION pattern: ONE hash agg to the "
    "per-(type,day) series, then applyInPandas runs the recursion per "
    "type in Python ints (group state = one (l,b) pair; series length "
    "is bounded by the calendar, not the corpus); the oracle replays "
    "it as a recursive CTE — the first stateful Arrow kernel in the "
    "repo with an EXACT SQL oracle",
)
def ts_holt_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.date_format("ts", "yyyy-MM-dd").alias("day")
    ).agg(
        F.sum(F.round(F.col("value") * 100, 0).cast("bigint")).alias("y")
    )

    def holt(pdf):
        import pandas as pd

        def tdiv2(x: int) -> int:
            return x // 2 if x >= 0 else -((-x) // 2)

        pdf = pdf.sort_values("day")
        out = []
        l = b = 0
        first = True
        for r in pdf.itertuples(index=False):
            y = int(r.y)  # Python ints: no wrap at any magnitude
            if first:
                l, b, first = y, 0, False
            else:
                nl = tdiv2(y + l + b)
                b = tdiv2(nl - l + b)
                l = nl
            out.append((r.event_type, r.day, y, l, b, l + b))
        return pd.DataFrame(
            out,
            columns=[
                "event_type",
                "day",
                "value_cents",
                "level_cents",
                "trend_cents",
                "forecast_cents",
            ],
        )

    return daily.groupBy("event_type").applyInPandas(
        holt,
        "event_type string, day string, value_cents long, "
        "level_cents long, trend_cents long, forecast_cents long",
    )


# ---------------------------------------------------------------------------
# ts_best_changepoint
# ---------------------------------------------------------------------------

_BCP_SQL = """
    WITH daily AS (
      SELECT event_type,
             CAST(epoch_us(ts) // 86400000000 AS BIGINT) AS day_id,
             sum(CAST(round(value * 100, 0) AS BIGINT)) AS y
      FROM events GROUP BY 1, 2),
    pre AS (
      SELECT event_type, day_id, y,
             row_number() OVER w AS i,
             count(*) OVER (PARTITION BY event_type) AS n,
             sum(CAST(y AS DECIMAL(38,0))) OVER w AS cs,
             sum(CAST(y AS DECIMAL(38,0)) * CAST(y AS DECIMAL(38,0)))
               OVER w AS cs2,
             sum(CAST(y AS DECIMAL(38,0)))
               OVER (PARTITION BY event_type) AS ts_,
             sum(CAST(y AS DECIMAL(38,0)) * CAST(y AS DECIMAL(38,0)))
               OVER (PARTITION BY event_type) AS ts2
      FROM daily
      WINDOW w AS (PARTITION BY event_type ORDER BY day_id
                   ROWS UNBOUNDED PRECEDING)),
    cand AS (
      SELECT event_type, day_id, i, n,
             round(round(
               CAST(cs AS DOUBLE) * CAST(cs AS DOUBLE) / i
               + (CAST(ts_ AS DOUBLE) - CAST(cs AS DOUBLE))
                 * (CAST(ts_ AS DOUBLE) - CAST(cs AS DOUBLE)) / (n - i)
               - CAST(ts_ AS DOUBLE) * CAST(ts_ AS DOUBLE) / n, 6), 2)
               AS gain_cents2
      FROM pre WHERE i < n),
    best AS (
      SELECT event_type, day_id, gain_cents2,
             row_number() OVER (PARTITION BY event_type
                                ORDER BY gain_cents2 DESC, day_id) AS rn
      FROM cand)
    SELECT event_type,
           CAST(day_id AS BIGINT) AS split_day,
           round(gain_cents2 / 10000.0, 2) AS gain_dollars2
    FROM best WHERE rn = 1
"""


@register(
    "ts_best_changepoint",
    _BCP_SQL,
    "single change-point detection per event type (the binary-"
    "segmentation inner step, CUSUM's offline twin): the split day "
    "maximizing the between-segment SSE reduction gain(t) = "
    "SL^2/t + SR^2/(n-t) - S^2/n, computed from EXACT decimal(38,0) "
    "prefix sums over the per-(type,day) aggregate — every window is "
    "partitioned by type on the calendar-bounded day dim. The gain is "
    "one shared double expression double-round-snapped (6 then 2 "
    "cents^2 digits) so the argmax is engine-stable; ties break on "
    "the earlier day",
)
def ts_best_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type",
        (F.unix_micros("ts") / F.lit(86400000000)).cast("bigint").alias(
            "day_id"
        ),
    ).agg(F.sum(F.round(F.col("value") * 100, 0).cast("bigint")).alias("y"))
    d = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    wo = (
        Window.partitionBy("event_type")
        .orderBy("day_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    wt = Window.partitionBy("event_type")
    pre = daily.select(
        "event_type",
        "day_id",
        F.row_number().over(Window.partitionBy("event_type").orderBy("day_id")).alias("i"),
        F.count(F.lit(1)).over(wt).alias("n"),
        F.sum(d(F.col("y"))).over(wo).alias("cs"),
        F.sum(d(F.col("y"))).over(wt).alias("ts_"),
    )
    cs, ts_ = F.col("cs").cast("double"), F.col("ts_").cast("double")
    i, n = F.col("i"), F.col("n")
    gain = F.round(
        F.round(
            cs * cs / i + (ts_ - cs) * (ts_ - cs) / (n - i) - ts_ * ts_ / n,
            6,
        ),
        2,
    )
    cand = pre.filter(i < n).select(
        "event_type", "day_id", gain.alias("gain_cents2")
    )
    best = cand.withColumn(
        "rn",
        F.row_number().over(
            Window.partitionBy("event_type").orderBy(
                F.desc("gain_cents2"), "day_id"
            )
        ),
    ).filter(F.col("rn") == 1)
    return best.select(
        "event_type",
        F.col("day_id").cast("bigint").alias("split_day"),
        F.round(F.col("gain_cents2") / 10000.0, 2).alias("gain_dollars2"),
    )


# ---------------------------------------------------------------------------
# ts_autocorr
# ---------------------------------------------------------------------------

_AUTOCORR_SQL = """
    WITH daily AS (
      SELECT event_type,
             CAST(epoch_us(ts) // 86400000000 AS BIGINT) AS day_id,
             CAST(CAST(sum(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT)
                  // 100 AS BIGINT) AS yd
      FROM events GROUP BY 1, 2),
    m AS (
      SELECT event_type, count(*) AS n,
             CAST(sum(yd) AS BIGINT) // count(*) AS mq
      FROM daily GROUP BY 1),
    d AS (
      SELECT daily.event_type, day_id, yd - mq AS dv
      FROM daily JOIN m USING (event_type)),
    lagged AS MATERIALIZED (
      SELECT event_type, dv,
             lag(dv, 1) OVER w AS d1,
             lag(dv, 2) OVER w AS d2,
             lag(dv, 3) OVER w AS d3
      FROM d WINDOW w AS (PARTITION BY event_type ORDER BY day_id)),
    den AS (
      SELECT event_type, CAST(sum(dv * dv) AS BIGINT) AS sdd
      FROM lagged GROUP BY 1),
    nums AS (
      SELECT event_type, 1 AS k, CAST(coalesce(sum(dv * d1), 0) AS BIGINT)
               AS num, CAST(count(d1) AS BIGINT) AS n_pairs
      FROM lagged GROUP BY 1
      UNION ALL
      SELECT event_type, 2, CAST(coalesce(sum(dv * d2), 0) AS BIGINT),
             CAST(count(d2) AS BIGINT)
      FROM lagged GROUP BY 1
      UNION ALL
      SELECT event_type, 3, CAST(coalesce(sum(dv * d3), 0) AS BIGINT),
             CAST(count(d3) AS BIGINT)
      FROM lagged GROUP BY 1)
    SELECT n.event_type, CAST(n.k AS INT) AS k, n.n_pairs,
           CASE WHEN n.n_pairs > 0 AND den.sdd > 0
                THEN round(round(CAST(n.num AS DOUBLE) / den.sdd, 9), 6)
                ELSE CAST(0.0 AS DOUBLE) END AS acf
    FROM nums n JOIN den USING (event_type)
"""


@register(
    "ts_autocorr",
    _AUTOCORR_SQL,
    "lag-1..3 autocorrelation of the per-type daily total series — the "
    "seasonality/momentum screen run before any forecasting model. "
    "Exactness via the QUANTIZED-ANCHOR discipline: the series mean is "
    "snapped to an integer with floor division, deviations are exact "
    "integers, and numerator (sum dv*lag(dv,k)) and denominator (sum "
    "dv^2) are exact integer sums — daily totals are quantized to "
    "whole dollars so dv^2 sums stay below 2^53 through ~sf100 (the "
    "HUGEINT->double 1-ulp zone). The one double is the final ratio, "
    "one shared round-snapped expression; constant series (sdd=0) "
    "emit 0. All windows partition on event_type over the calendar-"
    "bounded day dim",
)
def ts_autocorr(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type",
        (F.unix_micros("ts") / F.lit(86400000000)).cast("bigint").alias(
            "day_id"
        ),
    ).agg(
        F.expr(
            "CAST(CAST(sum(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT)"
            " div 100 AS BIGINT)"
        ).alias("yd")
    )
    m = daily.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.expr("CAST(sum(yd) AS BIGINT) div count(*)").alias("mq"),
    )
    d = daily.join(F.broadcast(m), "event_type").select(
        "event_type", "day_id", (F.col("yd") - F.col("mq")).alias("dv")
    )
    w = Window.partitionBy("event_type").orderBy("day_id")
    lagged = d.select(
        "event_type",
        "dv",
        F.lag("dv", 1).over(w).alias("d1"),
        F.lag("dv", 2).over(w).alias("d2"),
        F.lag("dv", 3).over(w).alias("d3"),
    )
    den = lagged.groupBy("event_type").agg(
        F.sum(F.col("dv") * F.col("dv")).cast("bigint").alias("sdd")
    )
    parts = []
    for k in (1, 2, 3):
        dk = F.col(f"d{k}")
        parts.append(
            lagged.groupBy("event_type").agg(
                F.lit(k).cast("int").alias("k"),
                F.coalesce(F.sum(F.col("dv") * dk), F.lit(0))
                .cast("bigint")
                .alias("num"),
                F.count(dk).cast("bigint").alias("n_pairs"),
            )
        )
    nums = parts[0].unionByName(parts[1]).unionByName(parts[2])
    return nums.join(F.broadcast(den), "event_type").select(
        "event_type",
        "k",
        "n_pairs",
        F.when(
            (F.col("n_pairs") > 0) & (F.col("sdd") > 0),
            F.round(
                F.round(F.col("num").cast("double") / F.col("sdd"), 9), 6
            ),
        )
        .otherwise(F.lit(0.0))
        .alias("acf"),
    )


# ---------------------------------------------------------------------------
# ts_twap
# ---------------------------------------------------------------------------

_TWAP_SQL = """
    WITH e AS (
      SELECT event_type, epoch_us(ts) AS x, event_id,
             CAST(round(value * 100, 0) AS BIGINT) AS cents
      FROM events),
    seg AS (
      SELECT event_type, cents,
             lead(x) OVER (PARTITION BY event_type
                           ORDER BY x, event_id) - x AS dur_us
      FROM e),
    agg AS (
      SELECT event_type,
             count(dur_us) AS n_segments,
             sum(CAST(dur_us AS HUGEINT)) AS total_dur,
             sum(CAST(cents AS HUGEINT) * dur_us) AS wsum
      FROM seg WHERE dur_us IS NOT NULL GROUP BY event_type)
    SELECT event_type,
           CAST(n_segments AS BIGINT) AS n_segments,
           CAST(total_dur AS BIGINT) AS total_dur_us,
           CAST(CASE WHEN total_dur > 0 THEN wsum // total_dur
                     ELSE 0 END AS BIGINT) AS twap_cents
    FROM agg
"""


@register(
    "ts_twap",
    _TWAP_SQL,
    "time-weighted average value per event type (the TWAP estimator): "
    "each observation weighted by its holding interval to the next "
    "observation (lead window totally ordered by ts+event_id; the "
    "open-ended last observation is excluded, the standard "
    "convention). Weighted sums accumulate cents*micros products in "
    "decimal(38,0)/HUGEINT — exact at any scale — and the average is "
    "one floor division back to cents. Window partitions on "
    "event_type; one agg; zero-duration series guarded",
)
def ts_twap(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    e = ev.select(
        "event_type",
        F.unix_micros("ts").alias("x"),
        "event_id",
        F.round(F.col("value") * 100, 0).cast("bigint").alias("cents"),
    )
    w = Window.partitionBy("event_type").orderBy("x", "event_id")
    seg = e.select(
        "event_type",
        "cents",
        (F.lead("x").over(w) - F.col("x")).alias("dur_us"),
    ).filter(F.col("dur_us").isNotNull())
    agg = seg.groupBy("event_type").agg(
        F.count("dur_us").alias("n_segments"),
        F.sum(F.col("dur_us").cast("decimal(38,0)")).alias("total_dur"),
        F.sum(
            F.col("cents").cast("decimal(38,0)") * F.col("dur_us")
        ).alias("wsum"),
    )
    return agg.select(
        "event_type",
        F.col("n_segments").cast("bigint").alias("n_segments"),
        F.col("total_dur").cast("bigint").alias("total_dur_us"),
        F.expr(
            "CAST(CASE WHEN total_dur > 0 THEN wsum div total_dur"
            " ELSE 0 END AS BIGINT)"
        ).alias("twap_cents"),
    )


# ---------------------------------------------------------------------------
# ts_theil_sen
# ---------------------------------------------------------------------------

_THEIL_SQL = f"""
    WITH daily AS (
      SELECT event_type,
             CAST(epoch_us(ts) // 86400000000 AS BIGINT) AS day_id,
             CAST(CAST(sum(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT)
                  // 100 AS BIGINT) AS yd
      FROM events GROUP BY 1, 2),
    prs AS (
      SELECT a.event_type,
             b.yd - a.yd AS dy, b.day_id - a.day_id AS dx,
             a.day_id AS di, b.day_id AS dj
      FROM daily a JOIN daily b
        ON a.event_type = b.event_type AND a.day_id < b.day_id),
    ranked AS (
      SELECT event_type, dy, dx,
             count(*) OVER (PARTITION BY event_type) AS np,
             row_number() OVER (
               PARTITION BY event_type
               ORDER BY CAST(dy AS DOUBLE) / dx, dy, dx, di, dj) AS rn
      FROM prs)
    SELECT event_type,
           CAST(np AS BIGINT) AS n_pairs,
           CAST(dy AS BIGINT) AS slope_dy,
           CAST(dx AS BIGINT) AS slope_dx,
           CAST({_TDIV.format(x='1000 * dy', d='dx')} AS BIGINT)
             AS slope_milli
    FROM ranked WHERE rn = (np + 1) // 2
"""


@register(
    "ts_theil_sen",
    _THEIL_SQL,
    "Theil-Sen robust trend per event type: the median of all "
    "pairwise slopes of the daily-dollars series — outlier-proof "
    "where OLS is not. Slopes remain EXACT integer (dy, dx) pairs; "
    "the median is a nearest-rank selection ordered by the IEEE "
    "quotient dy/dx (exact ints < 2^53 divided once — bit-identical "
    "across engines, used only for ORDERING) with a total integer "
    "tie-break, and the reported slope is the truncated-division "
    "milli-unit. The pair join is per-type over the calendar-bounded "
    "day dim (|days|^2 pairs per type, never fact rows)",
)
def ts_theil_sen(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type",
        (F.unix_micros("ts") / F.lit(86400000000)).cast("bigint").alias(
            "day_id"
        ),
    ).agg(
        F.expr(
            "CAST(CAST(sum(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT)"
            " div 100 AS BIGINT)"
        ).alias("yd")
    )
    a = daily.select(
        "event_type", F.col("day_id").alias("di"), F.col("yd").alias("yi")
    )
    b = daily.select(
        "event_type", F.col("day_id").alias("dj"), F.col("yd").alias("yj")
    )
    prs = (
        a.join(b, "event_type")
        .filter(F.col("di") < F.col("dj"))
        .select(
            "event_type",
            (F.col("yj") - F.col("yi")).alias("dy"),
            (F.col("dj") - F.col("di")).alias("dx"),
            "di",
            "dj",
        )
    )
    ranked = prs.select(
        "event_type",
        "dy",
        "dx",
        F.count(F.lit(1))
        .over(Window.partitionBy("event_type"))
        .alias("np"),
        F.row_number()
        .over(
            Window.partitionBy("event_type").orderBy(
                F.col("dy").cast("double") / F.col("dx"),
                "dy",
                "dx",
                "di",
                "dj",
            )
        )
        .alias("rn"),
    )
    return ranked.filter(F.col("rn") == F.expr("(np + 1) div 2")).select(
        "event_type",
        F.col("np").cast("bigint").alias("n_pairs"),
        F.col("dy").cast("bigint").alias("slope_dy"),
        F.col("dx").cast("bigint").alias("slope_dx"),
        F.expr("CAST((1000 * dy) div dx AS BIGINT)").alias("slope_milli"),
    )


# ---------------------------------------------------------------------------
# ts_anomaly_iqr
# ---------------------------------------------------------------------------

_IQR_SQL = """
    WITH daily AS (
      SELECT event_type,
             CAST(epoch_us(ts) // 86400000000 AS BIGINT) AS day_id,
             CAST(sum(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT) AS y
      FROM events GROUP BY 1, 2),
    g AS (
      SELECT event_type, y, count(*) AS c FROM daily GROUP BY 1, 2),
    cum AS (
      SELECT event_type, y,
             sum(c) OVER (PARTITION BY event_type ORDER BY y) AS cc,
             sum(c) OVER (PARTITION BY event_type) AS n
      FROM g),
    quart AS MATERIALIZED (
      SELECT event_type,
             min(CASE WHEN cc >= (25 * n + 99) // 100 THEN y END) AS p25,
             min(CASE WHEN cc >= (75 * n + 99) // 100 THEN y END) AS p75
      FROM cum GROUP BY event_type)
    SELECT d.event_type, CAST(d.day_id AS BIGINT) AS day_id,
           CAST(d.y AS BIGINT) AS y_cents,
           CAST(3 * q.p25 - q.p75 AS BIGINT) AS lo2_watch,
           CAST(3 * q.p75 - q.p25 AS BIGINT) AS hi2_watch,
           CAST(CASE WHEN 2 * d.y < 3 * q.p25 - q.p75 THEN -1 ELSE 1
                END AS INT) AS direction,
           CAST(CASE WHEN 2 * d.y < 5 * q.p25 - 3 * q.p75
                       OR 2 * d.y > 5 * q.p75 - 3 * q.p25
                     THEN 2 ELSE 1 END AS INT) AS severity
    FROM daily d JOIN quart q ON d.event_type = q.event_type
    WHERE 2 * d.y < 3 * q.p25 - q.p75
       OR 2 * d.y > 3 * q.p75 - q.p25
"""


@register(
    "ts_anomaly_iqr",
    _IQR_SQL,
    "two-level Tukey-fence anomaly screen on per-type daily totals "
    "with nearest-rank quartiles: severity 1 (watch) outside the "
    "0.5*IQR inner fence, severity 2 (alert) outside the standard "
    "1.5*IQR outer fence; all fences are DOUBLED (2y vs 3*p25-p75 / "
    "5*p25-3*p75) so the half-integer multipliers stay integral — no "
    "float enters any comparison. Composes the exact-percentile "
    "machinery into the standard ops outlier report. Shape: quartiles "
    "from the distinct-value cumulative dim (partitioned windows), "
    "one broadcast join back to the daily dim; one fact scan",
)
def ts_anomaly_iqr(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type",
        (F.unix_micros("ts") / F.lit(86400000000)).cast("bigint").alias(
            "day_id"
        ),
    ).agg(F.sum(F.round(F.col("value") * 100, 0).cast("bigint")).alias("y"))
    g = daily.groupBy("event_type", "y").agg(F.count(F.lit(1)).alias("c"))
    w = (
        Window.partitionBy("event_type")
        .orderBy("y")
        .rangeBetween(Window.unboundedPreceding, 0)
    )
    cum = g.select(
        "event_type",
        "y",
        F.sum("c").over(w).alias("cc"),
        F.sum("c").over(Window.partitionBy("event_type")).alias("n"),
    )
    quart = cum.groupBy("event_type").agg(
        F.min(
            F.when(F.col("cc") >= F.expr("(25 * n + 99) div 100"), F.col("y"))
        ).alias("p25"),
        F.min(
            F.when(F.col("cc") >= F.expr("(75 * n + 99) div 100"), F.col("y"))
        ).alias("p75"),
    )
    lo2w = 3 * F.col("p25") - F.col("p75")
    hi2w = 3 * F.col("p75") - F.col("p25")
    lo2a = 5 * F.col("p25") - 3 * F.col("p75")
    hi2a = 5 * F.col("p75") - 3 * F.col("p25")
    return (
        daily.join(F.broadcast(quart), "event_type")
        .filter((2 * F.col("y") < lo2w) | (2 * F.col("y") > hi2w))
        .select(
            "event_type",
            F.col("day_id").cast("bigint").alias("day_id"),
            F.col("y").cast("bigint").alias("y_cents"),
            lo2w.cast("bigint").alias("lo2_watch"),
            hi2w.cast("bigint").alias("hi2_watch"),
            F.when(2 * F.col("y") < lo2w, -1)
            .otherwise(1)
            .cast("int")
            .alias("direction"),
            F.when(
                (2 * F.col("y") < lo2a) | (2 * F.col("y") > hi2a), 2
            )
            .otherwise(1)
            .cast("int")
            .alias("severity"),
        )
    )


# ---------------------------------------------------------------------------
# ts_wow_growth
# ---------------------------------------------------------------------------

_WOW_SQL = f"""
    WITH weekly AS (
      SELECT event_type,
             CAST(epoch_us(ts) // 604800000000 AS BIGINT) AS week_id,
             CAST(sum(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT)
               AS cents
      FROM events GROUP BY 1, 2),
    lagged AS (
      SELECT event_type, week_id, cents,
             lag(cents) OVER (PARTITION BY event_type
                              ORDER BY week_id) AS prev_cents
      FROM weekly)
    SELECT event_type, CAST(week_id AS BIGINT) AS week_id,
           CAST(cents AS BIGINT) AS cents,
           CAST(prev_cents AS BIGINT) AS prev_cents,
           CAST({_TDIV.format(x='(cents - prev_cents) * 10000',
                              d='prev_cents')} AS BIGINT) AS growth_bp
    FROM lagged WHERE prev_cents IS NOT NULL AND prev_cents > 0
"""


@register(
    "ts_wow_growth",
    _WOW_SQL,
    "week-over-week revenue growth per event type in EXACT integer "
    "basis points — (cur-prev)*10000 tdiv prev, truncated toward zero "
    "on both engines (Spark div and duckdb 1.0 // both truncate; the "
    "oracle keeps the explicit CASE form for version robustness) — the "
    "reporting staple. One calendar agg, one partitioned lag window "
    "over the week dim; zero/missing base weeks are excluded",
)
def ts_wow_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    weekly = ev.groupBy(
        "event_type",
        (F.unix_micros("ts") / F.lit(604800000000)).cast("bigint").alias(
            "week_id"
        ),
    ).agg(
        F.sum(F.round(F.col("value") * 100, 0).cast("bigint"))
        .cast("bigint")
        .alias("cents")
    )
    w = Window.partitionBy("event_type").orderBy("week_id")
    lagged = weekly.withColumn("prev_cents", F.lag("cents").over(w))
    return lagged.filter(
        F.col("prev_cents").isNotNull() & (F.col("prev_cents") > 0)
    ).select(
        "event_type",
        F.col("week_id").cast("bigint").alias("week_id"),
        F.col("cents").cast("bigint").alias("cents"),
        F.col("prev_cents").cast("bigint").alias("prev_cents"),
        F.expr(
            "CAST(((cents - prev_cents) * 10000) div prev_cents AS BIGINT)"
        ).alias("growth_bp"),
    )


# ---------------------------------------------------------------------------
# ts_m4_downsample
# ---------------------------------------------------------------------------

_M4_W = 16  # pixel-bucket count

_M4_SQL = f"""
    WITH e AS (
      SELECT event_type, epoch_us(ts) AS x, event_id,
             CAST(round(value * 100, 0) AS BIGINT) AS cents
      FROM events),
    span AS (
      SELECT event_type, min(x) AS x0, max(x) AS x1
      FROM e GROUP BY event_type),
    b AS (
      SELECT e.event_type, e.x, e.event_id, e.cents,
             CAST(((e.x - s.x0) * {_M4_W}) // (s.x1 - s.x0 + 1) AS BIGINT)
               AS bucket
      FROM e JOIN span s ON e.event_type = s.event_type),
    r AS (
      SELECT event_type, bucket, cents,
             row_number() OVER w AS rf,
             row_number() OVER (PARTITION BY event_type, bucket
                                ORDER BY x DESC, event_id DESC) AS rl
      FROM b WINDOW w AS (PARTITION BY event_type, bucket
                          ORDER BY x, event_id))
    SELECT event_type, CAST(bucket AS BIGINT) AS bucket,
           CAST(count(*) AS BIGINT) AS n,
           CAST(min(cents) AS BIGINT) AS min_cents,
           CAST(max(cents) AS BIGINT) AS max_cents,
           CAST(min(CASE WHEN rf = 1 THEN cents END) AS BIGINT)
             AS first_cents,
           CAST(min(CASE WHEN rl = 1 THEN cents END) AS BIGINT)
             AS last_cents
    FROM r GROUP BY event_type, bucket
"""


@register(
    "ts_m4_downsample",
    _M4_SQL,
    "M4 time-series downsampling (Jugel et al., VLDB 2014): per "
    "pixel bucket the min/max/first/last values — the reduction that "
    "renders a corpus-sized series pixel-perfect with 4 points per "
    "bucket, the standard in time-series UIs. Bucket assignment is "
    "exact integer floor division of the span into {_M4_W} cells; "
    "first/last anchor on the total (x, event_id) order via "
    "per-bucket rank windows (all windows partition by "
    "(type, bucket)). One fact scan + one span dim join",
)
def ts_m4_downsample(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    e = ev.select(
        "event_type",
        F.unix_micros("ts").alias("x"),
        "event_id",
        F.round(F.col("value") * 100, 0).cast("bigint").alias("cents"),
    )
    span = e.groupBy("event_type").agg(
        F.min("x").alias("x0"), F.max("x").alias("x1")
    )
    b = e.join(F.broadcast(span), "event_type").select(
        "event_type",
        "x",
        "event_id",
        "cents",
        F.expr(
            f"CAST(((x - x0) * {_M4_W}) div (x1 - x0 + 1) AS BIGINT)"
        ).alias("bucket"),
    )
    wf = Window.partitionBy("event_type", "bucket").orderBy("x", "event_id")
    wl = Window.partitionBy("event_type", "bucket").orderBy(
        F.desc("x"), F.desc("event_id")
    )
    r = b.select(
        "event_type",
        "bucket",
        "cents",
        F.row_number().over(wf).alias("rf"),
        F.row_number().over(wl).alias("rl"),
    )
    return r.groupBy("event_type", "bucket").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.min("cents").cast("bigint").alias("min_cents"),
        F.max("cents").cast("bigint").alias("max_cents"),
        F.min(F.when(F.col("rf") == 1, F.col("cents")))
        .cast("bigint")
        .alias("first_cents"),
        F.min(F.when(F.col("rl") == 1, F.col("cents")))
        .cast("bigint")
        .alias("last_cents"),
    ).withColumn("bucket", F.col("bucket").cast("bigint"))


# ---------------------------------------------------------------------------
# ts_cross_corr
# ---------------------------------------------------------------------------

_XC_SQL = """
    WITH daily AS (
      SELECT event_type,
             CAST(epoch_us(ts) // 86400000000 AS BIGINT) AS day_id,
             CAST(CAST(sum(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT)
                  // 100 AS BIGINT) AS yd
      FROM events GROUP BY 1, 2),
    m AS (
      SELECT event_type,
             CAST(sum(yd) AS BIGINT) // count(*) AS mq
      FROM daily GROUP BY 1),
    d AS (
      SELECT daily.event_type, day_id, yd - mq AS dv
      FROM daily JOIN m USING (event_type)),
    sd AS (
      SELECT event_type, CAST(sum(dv * dv) AS BIGINT) AS sdd
      FROM d GROUP BY 1),
    lags AS (SELECT unnest(range(0, 3)) AS lag),
    x AS (
      SELECT a.event_type AS lead_type, b.event_type AS follow_type,
             l.lag,
             CAST(sum(a.dv * b.dv) AS BIGINT) AS num,
             count(*) AS n_pairs
      FROM d a
      CROSS JOIN lags l
      JOIN d b ON b.event_type <> a.event_type
              AND b.day_id = a.day_id + l.lag
      GROUP BY 1, 2, 3)
    SELECT x.lead_type, x.follow_type, CAST(x.lag AS INT) AS lag,
           CAST(x.n_pairs AS BIGINT) AS n_pairs,
           CASE WHEN sa.sdd > 0 AND sb.sdd > 0
                THEN round(round(CAST(x.num AS DOUBLE)
                                 / (sqrt(CAST(sa.sdd AS DOUBLE))
                                    * sqrt(CAST(sb.sdd AS DOUBLE))), 9), 6)
                ELSE CAST(0.0 AS DOUBLE) END AS xcorr
    FROM x
    JOIN sd sa ON sa.event_type = x.lead_type
    JOIN sd sb ON sb.event_type = x.follow_type
"""


@register(
    "ts_cross_corr",
    _XC_SQL,
    "lag-0..2 cross-correlation between every ordered pair of "
    "event-type daily series — the lead-lag discovery scan (does "
    "purchase volume FOLLOW click volume by k days?) behind "
    "forecasting feature selection. The ts_autocorr discipline: "
    "quantized-anchor integer deviations, exact integer numerator and "
    "per-series energy, ONE shared snapped ratio per (pair, lag) "
    "normalized by the full-series energies (IEEE sqrt). All work "
    "runs on the calendar-bounded day dim after one fact agg; the "
    "pair join is type-keyed with a day-offset equi condition",
)
def ts_cross_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type",
        (F.unix_micros("ts") / F.lit(86400000000)).cast("bigint").alias(
            "day_id"
        ),
    ).agg(
        F.expr(
            "CAST(CAST(sum(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT)"
            " div 100 AS BIGINT)"
        ).alias("yd")
    )
    m = daily.groupBy("event_type").agg(
        F.expr("CAST(sum(yd) AS BIGINT) div count(*)").alias("mq")
    )
    d = daily.join(F.broadcast(m), "event_type").select(
        "event_type", "day_id", (F.col("yd") - F.col("mq")).alias("dv")
    )
    sd = d.groupBy("event_type").agg(
        F.sum(F.col("dv") * F.col("dv")).cast("bigint").alias("sdd")
    )
    lags = spark.range(0, 3).select(F.col("id").cast("int").alias("lag"))
    a = d.select(
        F.col("event_type").alias("lead_type"),
        F.col("day_id").alias("da"),
        F.col("dv").alias("dva"),
    )
    b = d.select(
        F.col("event_type").alias("follow_type"),
        F.col("day_id").alias("db"),
        F.col("dv").alias("dvb"),
    )
    x = (
        a.crossJoin(F.broadcast(lags))
        .join(
            b,
            (F.col("follow_type") != F.col("lead_type"))
            & (F.col("db") == F.col("da") + F.col("lag")),
        )
        .groupBy("lead_type", "follow_type", "lag")
        .agg(
            F.sum(F.col("dva") * F.col("dvb")).cast("bigint").alias("num"),
            F.count(F.lit(1)).alias("n_pairs"),
        )
    )
    sa = sd.select(
        F.col("event_type").alias("lead_type"), F.col("sdd").alias("sa")
    )
    sb = sd.select(
        F.col("event_type").alias("follow_type"), F.col("sdd").alias("sb")
    )
    return (
        x.join(F.broadcast(sa), "lead_type")
        .join(F.broadcast(sb), "follow_type")
        .select(
            "lead_type",
            "follow_type",
            F.col("lag").cast("int").alias("lag"),
            F.col("n_pairs").cast("bigint").alias("n_pairs"),
            F.when(
                (F.col("sa") > 0) & (F.col("sb") > 0),
                F.round(
                    F.round(
                        F.col("num").cast("double")
                        / (
                            F.sqrt(F.col("sa").cast("double"))
                            * F.sqrt(F.col("sb").cast("double"))
                        ),
                        9,
                    ),
                    6,
                ),
            )
            .otherwise(F.lit(0.0))
            .alias("xcorr"),
        )
    )


# ---------------------------------------------------------------------------
# ts_seasonal_naive
# ---------------------------------------------------------------------------

_SNAIVE_SQL = """
    WITH daily AS (
      SELECT CAST((epoch_us(ts)
                   - (((epoch_us(ts) % 86400000000) + 86400000000)
                      % 86400000000)) // 86400000000 AS BIGINT) AS d,
             CAST(sum(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT)
               AS cents
      FROM events GROUP BY 1),
    scored AS (
      SELECT cur.d, cur.cents, prev.cents AS pred,
             abs(cur.cents - prev.cents) AS abs_err
      FROM daily cur JOIN daily prev ON prev.d = cur.d - 7)
    SELECT CAST(((d % 7) + 7) % 7 AS INT) AS dow,
           CAST(count(*) AS BIGINT) AS n_days,
           CAST(sum(abs_err) AS BIGINT) AS sum_abs_err_cents,
           CAST(sum(abs_err) * 1000000 // count(*) AS BIGINT)
             AS mae_cents_micro
    FROM scored GROUP BY 1
"""


@register(
    "ts_seasonal_naive",
    _SNAIVE_SQL,
    "seasonal-naive backtest: predict day d's total cents with day "
    "d-7's, report per-weekday exact integer MAE — the forecasting "
    "baseline (Hyndman's benchmark rule) any anomaly detector or model "
    "forecast must beat before it earns compute. Shape: ONE daily "
    "rollup (map-side combinable), a self-join on the shifted day key "
    "(both sides day-cardinality, broadcastable), 7-row output; "
    "abs errors and MAE stay in integer cents/micro-units. Day "
    "bucketing and weekday are FLOOR-consistent on BOTH engines via the "
    "subtract-pmod form (x - pmod(x, m)) div m — required because Spark "
    "div AND DuckDB integer // BOTH truncate toward zero — and "
    "pmod == ((d %% 7) + 7) %% 7, so pre-1970 timestamps (negative day "
    "numbers) cannot diverge (r6 advisor)",
)
def ts_seasonal_naive(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    daily = (
        ev.select(
            F.expr(
                "(unix_micros(ts) - pmod(unix_micros(ts), 86400000000))"
                " div 86400000000"
            ).alias("d"),
            F.round(F.col("value") * 100, 0).cast("bigint").alias("cents"),
        )
        .groupBy("d")
        .agg(F.sum("cents").cast("bigint").alias("cents"))
    )
    prev = daily.select(
        (F.col("d") + 7).alias("d"), F.col("cents").alias("pred")
    )
    scored = daily.join(prev, "d").select(
        "d", F.abs(F.col("cents") - F.col("pred")).alias("abs_err")
    )
    return scored.groupBy(
        F.pmod(F.col("d"), F.lit(7)).cast("int").alias("dow")
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_days"),
        F.sum("abs_err").cast("bigint").alias("sum_abs_err_cents"),
        F.expr(
            "CAST(sum(abs_err) * 1000000 div count(*) AS BIGINT)"
        ).alias("mae_cents_micro"),
    )


# ---------------------------------------------------------------------------
# ts_holt_winters_exact
# ---------------------------------------------------------------------------

# the three state updates, inlined (SQL cannot reference a same-SELECT
# alias): nl = tdiv2(y - sp + l + b); nb = tdiv2(nl - l + b);
# ns = tdiv2(y - nl + sp)  with sp = hist[1] (the 7-back seasonal)
_HW_NL = _TDIV2.format(x="d.y - h.hist[1] + h.l + h.b")

_HW_NB = _TDIV2.format(x=_HW_NL + " - h.l + h.b")

_HW_NS = _TDIV2.format(x="d.y - " + _HW_NL + " + h.hist[1]")

_HW_SQL = f"""
    WITH RECURSIVE daily AS MATERIALIZED (
      SELECT event_type,
             strftime(ts, '%Y-%m-%d') AS day,
             row_number() OVER (PARTITION BY event_type
                                ORDER BY strftime(ts, '%Y-%m-%d')) AS i,
             sum(CAST(round(value * 100, 0) AS BIGINT)) AS y
      FROM events GROUP BY event_type, strftime(ts, '%Y-%m-%d')),
    h AS (
      SELECT event_type, i, day, y,
             y AS l, CAST(0 AS BIGINT) AS b, CAST(0 AS BIGINT) AS s,
             y AS fitted,
             [0, 0, 0, 0, 0, 0, 0]::BIGINT[] AS hist
      FROM daily WHERE i = 1
      UNION ALL
      SELECT d.event_type, d.i, d.day, d.y,
             {_HW_NL} AS l,
             {_HW_NB} AS b,
             {_HW_NS} AS s,
             h.l + h.b + h.hist[1] AS fitted,
             h.hist[2:] || [{_HW_NS}] AS hist
      FROM h JOIN daily d
        ON d.event_type = h.event_type AND d.i = h.i + 1)
    SELECT event_type, day,
           CAST(y AS BIGINT) AS value_cents,
           CAST(l AS BIGINT) AS level_cents,
           CAST(b AS BIGINT) AS trend_cents,
           CAST(s AS BIGINT) AS seasonal_cents,
           CAST(fitted AS BIGINT) AS fitted_cents
    FROM h
"""


@register(
    "ts_holt_winters_exact",
    _HW_SQL,
    "additive Holt-Winters (alpha=beta=gamma=1/2, weekly season) per "
    "event type with the WHOLE trajectory exact-integer: l_t = "
    "tdiv2(y - s_(t-7) + l + b), b_t = tdiv2(l_t - l + b), s_t = "
    "tdiv2(y - l_t + s_(t-7)); fitted is the PRE-update one-step "
    "forecast l + b + s_(t-7) (honest backtest). The seasonal state "
    "rides as a 7-slot integer queue initialized to zeros, so the "
    "whole recursion is a bounded-state scan — the Spark side is the "
    "per-group sequential-recursion pattern of ts_holt_exact (ONE "
    "hash agg to the (type, day) series, then applyInPandas with "
    "Python ints; state = (l, b, deque(7))); the oracle replays it as "
    "a recursive CTE whose rows carry the queue as a BIGINT list — "
    "seasonal-lag access inside single-row recursion",
)
def ts_holt_winters_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.date_format("ts", "yyyy-MM-dd").alias("day")
    ).agg(
        F.sum(F.round(F.col("value") * 100, 0).cast("bigint")).alias("y")
    )

    def hw(pdf):
        import pandas as pd

        def tdiv2(x: int) -> int:
            return x // 2 if x >= 0 else -((-x) // 2)

        pdf = pdf.sort_values("day")
        out = []
        hist = [0] * 7
        l = b = s = 0
        first = True
        for r in pdf.itertuples(index=False):
            y = int(r.y)
            if first:
                l, b, s, fitted, first = y, 0, 0, y, False
            else:
                sp = hist[0]
                fitted = l + b + sp
                nl = tdiv2(y - sp + l + b)
                b = tdiv2(nl - l + b)
                s = tdiv2(y - nl + sp)
                l = nl
            hist = hist[1:] + [s]
            out.append((r.event_type, r.day, y, l, b, s, fitted))
        return pd.DataFrame(
            out,
            columns=[
                "event_type",
                "day",
                "value_cents",
                "level_cents",
                "trend_cents",
                "seasonal_cents",
                "fitted_cents",
            ],
        )

    return daily.groupBy("event_type").applyInPandas(
        hw,
        "event_type string, day string, value_cents long, "
        "level_cents long, trend_cents long, seasonal_cents long, "
        "fitted_cents long",
    )


# ---------------------------------------------------------------------------
# ts_rolling_median
# ---------------------------------------------------------------------------

_ROLLMED_SQL = """
    WITH daily AS (
      SELECT event_type,
             epoch_us(ts) // 86400000000 AS day,
             sum(CAST(round(value * 100, 0) AS BIGINT)) AS cents
      FROM events GROUP BY 1, 2),
    rolled AS (
      SELECT event_type, day, cents,
             list_sort(list(cents) OVER (
               PARTITION BY event_type ORDER BY day
               ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)) AS win
      FROM daily)
    SELECT event_type,
           CAST(day AS BIGINT) AS day,
           CAST(cents AS BIGINT) AS cents,
           CAST(len(win) AS INT) AS n_in_window,
           CAST(win[(len(win) - 1) // 2 + 1]
                + win[len(win) // 2 + 1] AS BIGINT) AS med_x2
    FROM rolled
"""


@register(
    "ts_rolling_median",
    _ROLLMED_SQL,
    "7-day rolling EXACT median of daily cents per event_type, emitted "
    "in x2 units so the even-count midpoint (mean of the two middle "
    "values) stays integer — the robust trend smoother (ts_ewma is the "
    "mean-based, outlier-sensitive one). Implemented as a sorted "
    "collect over the 7-row frame + integer element picks: the frame "
    "is <=7 values so the per-row sort is O(1), the window partitions "
    "by series key (parallel across event types / any real series "
    "cardinality), and no float percentile interpolation exists to "
    "diverge between engines. Positive-epoch day bucketing",
)
def ts_rolling_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type",
        F.expr("unix_micros(ts) div 86400000000").alias("day"),
    ).agg(
        F.sum(
            F.round(F.col("value") * 100, 0).cast("bigint")
        ).alias("cents")
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(-6, 0)
    )
    rolled = daily.select(
        "event_type",
        "day",
        "cents",
        F.sort_array(F.collect_list("cents").over(w)).alias("win"),
    )
    return rolled.select(
        "event_type",
        F.col("day").cast("bigint").alias("day"),
        F.col("cents").cast("bigint").alias("cents"),
        F.size("win").cast("int").alias("n_in_window"),
        F.expr(
            "CAST(element_at(win, CAST((size(win) - 1) div 2 + 1 AS INT))"
            " + element_at(win, CAST(size(win) div 2 + 1 AS INT))"
            " AS BIGINT)"
        ).alias("med_x2"),
    )


# ---------------------------------------------------------------------------
# ts_hampel_outliers
# ---------------------------------------------------------------------------

_HAMPEL_SQL = """
    WITH daily AS (
      SELECT event_type,
             epoch_us(ts) // 86400000000 AS day,
             sum(CAST(round(value * 100, 0) AS BIGINT)) AS cents
      FROM events GROUP BY 1, 2),
    rolled AS (
      SELECT event_type, day, cents,
             list_sort(list(cents) OVER (
               PARTITION BY event_type ORDER BY day
               ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)) AS win
      FROM daily),
    med AS (
      SELECT event_type, day, cents, win,
             win[(len(win) - 1) // 2 + 1] + win[len(win) // 2 + 1]
               AS med_x2
      FROM rolled),
    dev AS (
      SELECT event_type, day, cents, med_x2,
             list_sort(list_transform(win, x -> abs(2 * x - med_x2)))
               AS dwin
      FROM med)
    SELECT event_type,
           CAST(day AS BIGINT) AS day,
           CAST(cents AS BIGINT) AS cents,
           CAST(med_x2 AS BIGINT) AS med_x2,
           CAST(dwin[(len(dwin) - 1) // 2 + 1] + dwin[len(dwin) // 2 + 1]
                AS BIGINT) AS mad_x4,
           CAST(CASE WHEN 20000 * abs(2 * cents - med_x2)
                     > 44478 * (dwin[(len(dwin) - 1) // 2 + 1]
                                + dwin[len(dwin) // 2 + 1])
                THEN 1 ELSE 0 END AS INT) AS is_outlier
    FROM dev
"""


@register(
    "ts_hampel_outliers",
    _HAMPEL_SQL,
    "Hampel filter over daily cents per event_type: flag days where "
    "|x - rolling_median7| > 3 * 1.4826 * rolling_MAD7 — the robust "
    "outlier rule that survives the level shifts that wreck z-score "
    "rules (ts_anomaly_iqr is the distribution-wide twin; this is "
    "windowed). ENTIRELY exact integers: median in x2 units, MAD in "
    "x4 units (each the sum of the two middle order statistics, so "
    "even-count midpoints stay integer), and the threshold as the "
    "cross-multiplied rational 20000*dev_x2 > 44478*mad_x4 (3*1.4826 "
    "= 4.4478 — the same constants agg_mad_outliers uses). Shape: one "
    "hash-agg to the day dim, series-partitioned 7-row frames (the "
    "per-row sort is O(1)), zero floats, zero unpartitioned windows",
)
def ts_hampel_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type",
        F.expr("unix_micros(ts) div 86400000000").alias("day"),
    ).agg(
        F.sum(F.round(F.col("value") * 100, 0).cast("bigint")).alias(
            "cents"
        )
    )
    w = Window.partitionBy("event_type").orderBy("day").rowsBetween(-6, 0)
    rolled = daily.select(
        "event_type",
        "day",
        "cents",
        F.sort_array(F.collect_list("cents").over(w)).alias("win"),
    )
    med = rolled.withColumn(
        "med_x2",
        F.expr(
            "element_at(win, CAST((size(win) - 1) div 2 + 1 AS INT))"
            " + element_at(win, CAST(size(win) div 2 + 1 AS INT))"
        ),
    )
    dev = med.withColumn(
        "dwin",
        F.expr("sort_array(transform(win, x -> abs(2 * x - med_x2)))"),
    ).withColumn(
        "mad_x4",
        F.expr(
            "element_at(dwin, CAST((size(dwin) - 1) div 2 + 1 AS INT))"
            " + element_at(dwin, CAST(size(dwin) div 2 + 1 AS INT))"
        ),
    )
    return dev.select(
        "event_type",
        F.col("day").cast("bigint").alias("day"),
        F.col("cents").cast("bigint").alias("cents"),
        F.col("med_x2").cast("bigint").alias("med_x2"),
        F.col("mad_x4").cast("bigint").alias("mad_x4"),
        F.expr(
            "CAST(CASE WHEN 20000 * abs(2 * cents - med_x2)"
            " > 44478 * mad_x4 THEN 1 ELSE 0 END AS INT)"
        ).alias("is_outlier"),
    )


_INF = 1 << 60


# ---------------------------------------------------------------------------
# ts_dtw_exact
# ---------------------------------------------------------------------------

_DTW_SQL = f"""
    WITH RECURSIVE
    sa AS (
      SELECT list(cents ORDER BY day) AS a FROM (
        SELECT epoch_us(ts) // 86400000000 AS day,
               sum(CAST(round(value * 100, 0) AS BIGINT)) AS cents
        FROM events WHERE event_type = 'view' GROUP BY 1)),
    sb AS (
      SELECT list(cents ORDER BY day) AS b FROM (
        SELECT epoch_us(ts) // 86400000000 AS day,
               sum(CAST(round(value * 100, 0) AS BIGINT)) AS cents
        FROM events WHERE event_type = 'purchase' GROUP BY 1)),
    dims AS MATERIALIZED (
      SELECT len(a) AS m, len(b) AS n, a, b FROM sa, sb),
    -- anti-diagonal DP over the PADDED (m+1)x(n+1) grid: diag d holds
    -- D(i, d-i) for i in [greatest(0, d-n), least(m, d)], ordered by i.
    -- D(0,0)=0; D(i,0)=D(0,j)=INF (i,j>=1); else
    -- D(i,j) = |a_i - b_j| + min(D(i-1,j), D(i,j-1), D(i-1,j-1)),
    -- with the first two parents on diag d-1 and the third on d-2 --
    -- every cell of a diagonal is independent of its siblings.
    dp(d, prev2, prev) AS (
      SELECT 0, CAST(NULL AS BIGINT[]), [CAST(0 AS BIGINT)]
      FROM dims
      UNION ALL
      SELECT d + 1, prev,
        list_transform(
          generate_series(greatest(0, d + 1 - n), least(m, d + 1)),
          i -> CASE
            WHEN i = 0 OR d + 1 - i = 0 THEN CAST({_INF} AS BIGINT)
            ELSE abs(a[i] - b[d + 1 - i])
              + least(
                  CASE WHEN i - 1 >= greatest(0, d - n)
                            AND i - 1 <= least(m, d)
                       THEN prev[i - 1 - greatest(0, d - n) + 1]
                       ELSE CAST({_INF} AS BIGINT) END,
                  CASE WHEN i >= greatest(0, d - n)
                            AND i <= least(m, d)
                       THEN prev[i - greatest(0, d - n) + 1]
                       ELSE CAST({_INF} AS BIGINT) END,
                  CASE WHEN d >= 1 AND i - 1 >= greatest(0, d - 1 - n)
                            AND i - 1 <= least(m, d - 1)
                       THEN prev2[i - 1 - greatest(0, d - 1 - n) + 1]
                       ELSE CAST({_INF} AS BIGINT) END) END)
      FROM dp, dims WHERE d < m + n
    )
    SELECT CAST(m AS BIGINT) AS n_a,
           CAST(n AS BIGINT) AS n_b,
           -- the final diagonal d = m+n holds the single cell (m, n)
           CAST((SELECT prev[1] FROM dp, dims WHERE d = m + n) AS BIGINT)
             AS dtw_cents
    FROM dims
"""


@register(
    "ts_dtw_exact",
    _DTW_SQL,
    "dynamic-time-warping distance between the daily 'view' and "
    "'purchase' cents series, exact integer DP (|a_i - b_j| costs, "
    "min over insert/delete/match) — the elastic similarity measure "
    "for out-of-phase shape matching that pointwise metrics "
    "(ts_cross_corr at fixed lags) cannot express. The oracle replays "
    "the DP by ANTI-DIAGONALS (each diagonal depends only on the "
    "previous two, so every cell is independent — the in-row "
    "dependency of the classic row sweep disappears), a recursive CTE "
    "carrying two BIGINT-list diagonals for m+n-1 steps; the Spark "
    "side computes the identical DP in one numpy kernel over the two "
    "collected series. Inputs are CALENDAR-BOUNDED day dims (one "
    "hash-agg each) — the O(m*n) table lives on the KB-scale dim "
    "inside a single Arrow task, never on facts; at larger n apply a "
    "Sakoe-Chiba band. Unreachable cells carry a 2^60 sentinel "
    "(never overflows: costs add at most ~1e9 per step)",
)
def ts_dtw_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")

    def series(et: str, name: str) -> DataFrame:
        return (
            ev.filter(F.col("event_type") == et)
            .groupBy(F.expr("unix_micros(ts) div 86400000000").alias("day"))
            .agg(
                F.sum(
                    F.round(F.col("value") * 100, 0).cast("bigint")
                ).alias("cents")
            )
            .agg(
                F.expr(
                    "transform(array_sort(collect_list(struct(day, cents)))"
                    ", x -> x.cents)"
                ).alias(name)
            )
        )

    one = series("view", "a").crossJoin(F.broadcast(series("purchase", "b")))

    def kernel(batches):
        import numpy as np
        import pandas as pd

        for pdf in batches:
            out = {"n_a": [], "n_b": [], "dtw_cents": []}
            for _, row in pdf.iterrows():
                a = np.asarray(row["a"], dtype=np.int64)
                b = np.asarray(row["b"], dtype=np.int64)
                m, n = len(a), len(b)
                inf = 1 << 60
                prev = np.full(n + 1, inf, dtype=np.int64)
                prev[0] = 0
                for i in range(1, m + 1):
                    cur = np.full(n + 1, inf, dtype=np.int64)
                    costs = np.abs(a[i - 1] - b)
                    for j in range(1, n + 1):
                        cur[j] = costs[j - 1] + min(
                            prev[j], cur[j - 1], prev[j - 1]
                        )
                    prev = cur
                out["n_a"].append(m)
                out["n_b"].append(n)
                out["dtw_cents"].append(int(prev[n]))
            yield pd.DataFrame(out)

    return one.mapInPandas(
        kernel, "n_a bigint, n_b bigint, dtw_cents bigint"
    )


# ---------------------------------------------------------------------------
# ts_seasonal_strength
# ---------------------------------------------------------------------------

_SEASTR_SQL = """
    WITH daily AS (
      SELECT event_type,
             epoch_us(ts) // 86400000000 AS day,
             sum(CAST(round(value * 100, 0) AS BIGINT)) AS cents
      FROM events GROUP BY 1, 2),
    tr AS (
      SELECT event_type, day, cents,
             sum(cents) OVER w AS t7,
             count(*) OVER w AS n7
      FROM daily
      WINDOW w AS (PARTITION BY event_type ORDER BY day
                   ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)),
    det AS (
      SELECT event_type, day,
             7 * cents - t7 AS d7,
             CAST(((day % 7) + 7) % 7 AS INT) AS dow
      FROM tr WHERE n7 = 7),
    seas AS (
      SELECT event_type, dow, sum(d7) AS sd7, count(*) AS nd
      FROM det GROUP BY 1, 2),
    q AS (
      -- milli-quantized values: x = d7 * 1000, seasonal fitted =
      -- floor(sd7 * 1000 / nd); residual = x - fit (exact integers)
      SELECT det.event_type,
             det.d7 * 1000 AS x,
             det.d7 * 1000
               - CASE WHEN seas.sd7 < 0
                      THEN -((-seas.sd7 * 1000) // seas.nd)
                      ELSE (seas.sd7 * 1000) // seas.nd END AS rres
      FROM det JOIN seas
        ON det.event_type = seas.event_type AND det.dow = seas.dow),
    v AS (
      SELECT event_type,
             CAST(count(*) AS BIGINT) AS n_days,
             count(*) * sum(CAST(x AS HUGEINT) * x)
               - CAST(sum(x) AS HUGEINT) * sum(x) AS vd,
             count(*) * sum(CAST(rres AS HUGEINT) * rres)
               - CAST(sum(rres) AS HUGEINT) * sum(rres) AS vr
      FROM q GROUP BY 1)
    SELECT event_type, n_days,
           CAST(CASE WHEN vd = 0 THEN 0
                WHEN vr * 1000000 >= vd * 1000000 THEN 0
                ELSE 1000000 - vr * 1000000 // vd END AS BIGINT)
             AS strength_micro
    FROM v
"""


@register(
    "ts_seasonal_strength",
    _SEASTR_SQL,
    "seasonality strength F_s = max(0, 1 - Var(residual) / "
    "Var(detrended)) per event type — how much of the detrended "
    "variance the weekly profile explains (the STL-era statistic; "
    "ts_decompose_ma shows the components, this scores them; ~0 means "
    "the dow profile is noise). EXACT integers end-to-end: the "
    "x7-scaled detrended series (the decompose_ma trick) quantizes "
    "the dow-mean seasonal at milli-units with truncation-toward-zero "
    "(CASE-guarded // on the DuckDB side to match Spark div on "
    "negatives), and the variances compare as the integer numerators "
    "n*Sum(x^2) - (Sum x)^2 over a COMMON denominator — the ratio "
    "never touches a float. HUGEINT/DECIMAL(38,0) sums. Shape: one "
    "day-grain hash-agg, type-partitioned 7-day MA windows on the "
    "bounded day dim, one dow-profile agg, one variance agg",
)
def ts_seasonal_strength(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type",
        F.expr("unix_micros(ts) div 86400000000").alias("day"),
    ).agg(
        F.sum(F.round(F.col("value") * 100, 0).cast("bigint")).alias(
            "cents"
        )
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(-3, 3)
    )
    tr = daily.select(
        "event_type",
        "day",
        "cents",
        F.sum("cents").over(w).alias("t7"),
        F.count(F.lit(1)).over(w).alias("n7"),
    ).filter(F.col("n7") == 7)
    det = tr.select(
        "event_type",
        (7 * F.col("cents") - F.col("t7")).alias("d7"),
        F.expr("CAST(pmod(day, 7) AS INT)").alias("dow"),
    )
    seas = det.groupBy("event_type", "dow").agg(
        F.sum("d7").alias("sd7"), F.count(F.lit(1)).alias("nd")
    )
    q = det.join(F.broadcast(seas), ["event_type", "dow"]).select(
        "event_type",
        (F.col("d7") * 1000).alias("x"),
        F.expr("d7 * 1000 - (sd7 * 1000) div nd").alias("rres"),
    )
    dec = lambda c: F.expr(f"CAST({c} AS DECIMAL(38,0))")  # noqa: E731
    v = q.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_days"),
        (
            F.count(F.lit(1)) * F.sum(dec("x") * F.col("x"))
            - F.sum(dec("x")) * F.sum(dec("x"))
        ).alias("vd"),
        (
            F.count(F.lit(1)) * F.sum(dec("rres") * F.col("rres"))
            - F.sum(dec("rres")) * F.sum(dec("rres"))
        ).alias("vr"),
    )
    return v.select(
        "event_type",
        "n_days",
        F.expr(
            "CAST(CASE WHEN vd = 0 THEN 0"
            " WHEN vr * 1000000 >= vd * 1000000 THEN 0"
            " ELSE 1000000 - vr * 1000000 div vd END AS BIGINT)"
        ).alias("strength_micro"),
    )


# ---------------------------------------------------------------------------
# ts_mase
# ---------------------------------------------------------------------------

_MASE_SQL = """
    WITH daily AS (
      SELECT event_type,
             epoch_us(ts) // 86400000000 AS day,
             sum(CAST(round(value * 100, 0) AS BIGINT)) AS cents
      FROM events GROUP BY 1, 2),
    e7 AS (
      SELECT a.event_type,
             CAST(count(*) AS BIGINT) AS n7,
             CAST(sum(abs(a.cents - b.cents)) AS BIGINT) AS s7
      FROM daily a JOIN daily b
        ON a.event_type = b.event_type AND b.day = a.day - 7
      GROUP BY 1),
    e1 AS (
      SELECT a.event_type,
             CAST(count(*) AS BIGINT) AS n1,
             CAST(sum(abs(a.cents - b.cents)) AS BIGINT) AS s1
      FROM daily a JOIN daily b
        ON a.event_type = b.event_type AND b.day = a.day - 1
      GROUP BY 1)
    SELECT e7.event_type, e7.n7, e7.s7, e1.n1, e1.s1,
           CAST(CASE WHEN e1.s1 = 0 THEN 0
                ELSE e7.s7 * e1.n1 * 1000000 // (e1.s1 * e7.n7) END
                AS BIGINT) AS mase_micro
    FROM e7 JOIN e1 ON e7.event_type = e1.event_type
"""


@register(
    "ts_mase",
    _MASE_SQL,
    "mean absolute scaled error of the weekly seasonal-naive forecast "
    "per event type: MAE(lag-7 forecast) / MAE(lag-1 naive) — the "
    "scale-free forecast-accuracy standard (MAPE blows up near zero "
    "actuals; MASE normalizes by the naive baseline instead, < 1e6 "
    "micro means the forecast beats naive). The ratio of two rational "
    "MAEs is kept EXACT as s7 * n1 * 1e6 div (s1 * n7) — pure integer "
    "cents, zero-denominator guarded. Shape: one day-grain hash-agg + "
    "two shifted-key equi-joins (the ts_seasonal_naive_mape shape) — "
    "no window ever touches raw rows",
)
def ts_mase(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type",
        F.expr("unix_micros(ts) div 86400000000").alias("day"),
    ).agg(
        F.sum(F.round(F.col("value") * 100, 0).cast("bigint")).alias(
            "cents"
        )
    )

    def err(lag: int, n: str, s: str) -> DataFrame:
        a = daily.alias("a")
        b = daily.select(
            F.col("event_type").alias("bet"),
            (F.col("day") + lag).alias("bday"),
            F.col("cents").alias("bcents"),
        )
        return (
            a.join(
                b,
                (F.col("a.event_type") == F.col("bet"))
                & (F.col("a.day") == F.col("bday")),
            )
            .groupBy(F.col("a.event_type").alias("event_type"))
            .agg(
                F.count(F.lit(1)).cast("bigint").alias(n),
                F.sum(F.abs(F.col("a.cents") - F.col("bcents")))
                .cast("bigint")
                .alias(s),
            )
        )

    e7 = err(7, "n7", "s7")
    e1 = err(1, "n1", "s1")
    return e7.join(e1, "event_type").select(
        "event_type",
        "n7",
        "s7",
        "n1",
        "s1",
        F.expr(
            "CAST(CASE WHEN s1 = 0 THEN 0"
            " ELSE s7 * n1 * 1000000 div (s1 * n7) END AS BIGINT)"
        ).alias("mase_micro"),
    )


# ---------------------------------------------------------------------------
# ts_gap_fill_ffill
# ---------------------------------------------------------------------------

_GAP_FILL_SQL = """
    WITH daily AS MATERIALIZED (
      SELECT event_type,
             epoch_us(ts) // 86400000000 AS day,
             sum(CAST(round(value * 100, 0) AS BIGINT)) AS cents
      FROM events GROUP BY 1, 2),
    bounds AS (
      SELECT event_type, min(day) AS lo, max(day) AS hi
      FROM daily GROUP BY 1),
    spine AS (
      SELECT event_type, unnest(generate_series(lo, hi)) AS day
      FROM bounds)
    SELECT s.event_type, CAST(s.day AS BIGINT) AS day,
           CAST(d.cents AS BIGINT) AS cents_filled,
           CAST(CASE WHEN d.day = s.day THEN 0 ELSE 1 END AS INT)
             AS was_gap
    FROM spine s ASOF LEFT JOIN daily d
      ON s.event_type = d.event_type AND s.day >= d.day
"""


@register(
    "ts_gap_fill_ffill",
    _GAP_FILL_SQL,
    "dense daily calendar spine per event type with forward-filled "
    "day-grain sums — the make-the-series-dense step that must run "
    "before any lag/window/forecast logic (a lag-7 over a sparse "
    "series silently compares non-adjacent days; ts_mase and "
    "ts_seasonal_strength consume exactly this day grain). was_gap "
    "marks carried values. The first spine day always has a value by "
    "construction (the spine starts at each type's min day). EXACT "
    "cross-formulation check: Spark implements the fill as the "
    "last(ignorenulls) running carry, the oracle as a DuckDB ASOF "
    "join to the latest day <= spine day — independent algorithms, "
    "identical semantics. Shape: day-grain pre-agg first (the r8 "
    "pattern), spine bounded by calendar x types never by row count, "
    "one type-partitioned ordered window over day-grain rows",
)
def ts_gap_fill_ffill(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type",
        F.expr("unix_micros(ts) div 86400000000").alias("day"),
    ).agg(
        F.sum(F.round(F.col("value") * 100, 0).cast("bigint")).alias(
            "cents"
        )
    )
    bounds = daily.groupBy("event_type").agg(
        F.min("day").alias("lo"), F.max("day").alias("hi")
    )
    spine = bounds.select(
        "event_type",
        F.explode(F.sequence(F.col("lo"), F.col("hi"))).alias("day"),
    )
    joined = spine.join(daily, ["event_type", "day"], "left")
    w = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return joined.select(
        "event_type",
        F.col("day").cast("bigint").alias("day"),
        F.last("cents", ignorenulls=True)
        .over(w)
        .cast("bigint")
        .alias("cents_filled"),
        F.when(F.col("cents").isNull(), 1).otherwise(0).cast("int").alias(
            "was_gap"
        ),
    )


# ---------------------------------------------------------------------------
# ts_winsorized_mean
# ---------------------------------------------------------------------------

_WINSOR_SQL = """
    WITH base AS (
      SELECT event_type, event_id,
             CAST(round(value * 100, 0) AS BIGINT) AS cents
      FROM events),
    ranked AS MATERIALIZED (
      SELECT event_type, cents,
             row_number() OVER (PARTITION BY event_type
               ORDER BY cents, event_id) AS rn,
             count(*) OVER (PARTITION BY event_type) AS n
      FROM base),
    cuts AS MATERIALIZED (
      SELECT event_type,
             max(CASE WHEN rn = 1 + (n - 1) * 5 // 100 THEN cents END)
               AS lo_cents,
             max(CASE WHEN rn = 1 + (n - 1) * 95 // 100 THEN cents END)
               AS hi_cents
      FROM ranked GROUP BY 1)
    SELECT b.event_type,
           CAST(count(*) AS BIGINT) AS n,
           CAST(any_value(c.lo_cents) AS BIGINT) AS lo_cents,
           CAST(any_value(c.hi_cents) AS BIGINT) AS hi_cents,
           CAST(sum(b.cents) * 1000000 // count(*) AS BIGINT)
             AS raw_mean_micro,
           CAST(sum(least(greatest(b.cents, c.lo_cents), c.hi_cents))
                * 1000000 // count(*) AS BIGINT) AS winsor_mean_micro
    FROM base b JOIN cuts c ON b.event_type = c.event_type
    GROUP BY 1
"""


@register(
    "ts_winsorized_mean",
    _WINSOR_SQL,
    "per-type mean after clamping to the exact [p5, p95] percentiles "
    "(integer lower-quantile rule rank = 1 + (n-1)*p div 100 with the "
    "(cents, event_id) total order), reported next to the raw mean so "
    "the outlier effect is visible — the robust-mean staple for metric "
    "pipelines where a single fat-finger value drags the plain mean "
    "(the trimmed/winsorized family; Hampel flags outliers, this "
    "neutralizes them). All integer: boundaries are exact order "
    "statistics, means in micro units via integer division. Shape: "
    "one full-rank window per type produces BOTH boundaries, the "
    "2-column cut dim joins back on the type key (broadcast-sized: "
    "one row per type), one conditional hash-agg finishes",
)
def ts_winsorized_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    base = ev.select(
        "event_type",
        "event_id",
        F.round(F.col("value") * 100, 0).cast("bigint").alias("cents"),
    )
    wr = Window.partitionBy("event_type").orderBy("cents", "event_id")
    wn = Window.partitionBy("event_type")
    ranked = base.select(
        "event_type",
        "cents",
        F.row_number().over(wr).alias("rn"),
        F.count(F.lit(1)).over(wn).alias("n"),
    )
    cuts = ranked.groupBy("event_type").agg(
        F.max(
            F.when(
                F.col("rn") == 1 + F.expr("(n - 1) * 5 div 100"),
                F.col("cents"),
            )
        ).alias("lo_cents"),
        F.max(
            F.when(
                F.col("rn") == 1 + F.expr("(n - 1) * 95 div 100"),
                F.col("cents"),
            )
        ).alias("hi_cents"),
    )
    return (
        base.join(F.broadcast(cuts), "event_type")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.first("lo_cents").cast("bigint").alias("lo_cents"),
            F.first("hi_cents").cast("bigint").alias("hi_cents"),
            F.expr(
                "CAST(sum(cents) * 1000000 div count(*) AS BIGINT)"
            ).alias("raw_mean_micro"),
            F.expr(
                "CAST(sum(least(greatest(cents, lo_cents), hi_cents))"
                " * 1000000 div count(*) AS BIGINT)"
            ).alias("winsor_mean_micro"),
        )
    )


# ---------------------------------------------------------------------------
# ts_pinball_loss
# ---------------------------------------------------------------------------

_PINBALL_SQL = """
    WITH daily AS MATERIALIZED (
      SELECT event_type,
             epoch_us(ts) // 86400000000 AS day,
             sum(CAST(round(value * 100, 0) AS BIGINT)) AS cents
      FROM events GROUP BY 1, 2),
    joined AS (
      SELECT a.event_type, a.cents - b.cents AS diff
      FROM daily a JOIN daily b
        ON a.event_type = b.event_type AND b.day = a.day - 7),
    qdim AS (SELECT unnest([50, 90]) AS q),
    losses AS (
      SELECT j.event_type, q.q,
             CASE WHEN j.diff >= 0 THEN q.q * j.diff
                  ELSE (q.q - 100) * j.diff END AS loss_centi
      FROM joined j CROSS JOIN qdim q)
    SELECT event_type, CAST(q AS INT) AS q,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(loss_centi) AS BIGINT) AS sum_loss_centi,
           CAST(sum(loss_centi) * 10000 // count(*) AS BIGINT)
             AS mean_loss_micro
    FROM losses GROUP BY 1, 2
"""


@register(
    "ts_pinball_loss",
    _PINBALL_SQL,
    "pinball (quantile) loss of the weekly seasonal-naive forecast at "
    "q=0.5 and q=0.9 per event type — the proper scoring rule for "
    "QUANTILE forecasts: MASE/MAPE grade the point forecast, but a "
    "P90 capacity forecast must be graded by pinball, which charges "
    "under-prediction q/(1-q) times more than over-prediction (at "
    "q=0.5 it is half the absolute error — the consistency check "
    "against ts_mase's numerator). EXACT: q in integer percent makes "
    "each loss term q*(y-f) or (q-100)*(y-f) pure integer centi-cents; "
    "the mean is one integer division to micro-cents. Shape: the "
    "ts_mase shape — day-grain pre-agg, ONE shifted-key equi-join, a "
    "2-row quantile dim crossed in, one hash-agg",
)
def ts_pinball_loss(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type",
        F.expr("unix_micros(ts) div 86400000000").alias("day"),
    ).agg(
        F.sum(F.round(F.col("value") * 100, 0).cast("bigint")).alias(
            "cents"
        )
    )
    b = daily.select(
        F.col("event_type").alias("bet"),
        (F.col("day") + 7).alias("bday"),
        F.col("cents").alias("bcents"),
    )
    joined = daily.alias("a").join(
        b,
        (F.col("a.event_type") == F.col("bet"))
        & (F.col("a.day") == F.col("bday")),
    ).select(
        F.col("a.event_type").alias("event_type"),
        (F.col("a.cents") - F.col("bcents")).alias("diff"),
    )
    qdim = F.broadcast(spark.createDataFrame([(50,), (90,)], "q int"))
    losses = joined.crossJoin(qdim).select(
        "event_type",
        "q",
        F.when(
            F.col("diff") >= 0, F.col("q").cast("bigint") * F.col("diff")
        )
        .otherwise((F.col("q").cast("bigint") - 100) * F.col("diff"))
        .alias("loss_centi"),
    )
    return losses.groupBy("event_type", "q").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("loss_centi").cast("bigint").alias("sum_loss_centi"),
        F.expr(
            "CAST(sum(loss_centi) * 10000 div count(*) AS BIGINT)"
        ).alias("mean_loss_micro"),
    ).select(
        "event_type",
        F.col("q").cast("int").alias("q"),
        "n",
        "sum_loss_centi",
        "mean_loss_micro",
    )


# ---------------------------------------------------------------------------
# ts_acf_exact
# ---------------------------------------------------------------------------

_ACF_EXACT_SQL = """
    WITH daily AS MATERIALIZED (
      SELECT event_type,
             epoch_us(ts) // 86400000000 AS day,
             sum(CAST(round(value * 100, 0) AS BIGINT)) AS cents
      FROM events GROUP BY 1, 2),
    tot AS MATERIALIZED (
      SELECT event_type, CAST(count(*) AS BIGINT) AS n_days,
             CAST(sum(cents) AS BIGINT) AS s
      FROM daily GROUP BY 1),
    u AS MATERIALIZED (
      SELECT d.event_type, d.day,
             CAST(t.n_days * d.cents - t.s AS HUGEINT) AS u
      FROM daily d JOIN tot t ON d.event_type = t.event_type),
    den AS (
      SELECT event_type, CAST(sum(u * u) AS HUGEINT) AS den
      FROM u GROUP BY 1),
    lags AS (SELECT unnest([1, 2, 3, 4, 5, 6, 7]) AS lag),
    num AS (
      SELECT a.event_type, l.lag,
             CAST(count(*) AS BIGINT) AS n_pairs,
             CAST(sum(a.u * b.u) AS HUGEINT) AS num
      FROM u a
      CROSS JOIN lags l
      JOIN u b ON b.event_type = a.event_type AND b.day = a.day + l.lag
      GROUP BY 1, 2)
    SELECT n.event_type, CAST(n.lag AS INT) AS lag,
           CAST(t.n_days AS BIGINT) AS n_days,
           CAST(n.n_pairs AS BIGINT) AS n_pairs,
           CAST(CASE WHEN d.den = 0 THEN 0
                ELSE n.num * 1000 // d.den END AS BIGINT) AS acf_milli
    FROM num n
    JOIN den d ON n.event_type = d.event_type
    JOIN tot t ON n.event_type = t.event_type
"""


@register(
    "ts_acf_exact",
    _ACF_EXACT_SQL,
    "sample autocorrelation of the per-type daily-cents series at lags "
    "1..7: r_l = sum((x_t - m)(x_{t+l} - m)) / sum((x_t - m)^2) with "
    "the numerator over observed day pairs (t, t+l) — the diagnostic "
    "that says whether yesterday predicts today, and whether the "
    "weekly seasonality ts_mase/ts_pinball_loss ASSUME actually exists "
    "(a lag-7 spike is that assumption, made a number). This is the "
    "EXACT-INTEGER twin of ts_autocorr (r10, quantized-anchor mean + "
    "one final double at lags 1..3): scale each centered value by n — "
    "u_t = n*x_t - S is an integer — and the n^2 factors cancel in "
    "the ratio, so acf_milli = sum(u_t*u_{t+l}) * 1000 div sum(u_t^2) "
    "is pure integer arithmetic; the mean never exists even as a "
    "snapped anchor (signed division truncates toward zero identically "
    "on both engines; a constant series has den = 0 and reports 0). "
    "Shape: day-grain pre-agg BEFORE anything else (the MASE "
    "discipline), per-type totals broadcast back, 7 shifted-key joins "
    "against the day-grain dim — every post-agg relation is "
    "day-dim-sized, never facts",
)
def ts_acf_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type",
        F.expr("unix_micros(ts) div 86400000000").alias("day"),
    ).agg(
        F.sum(F.round(F.col("value") * 100, 0).cast("bigint")).alias(
            "cents"
        )
    )
    tot = daily.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_days"),
        F.sum("cents").cast("bigint").alias("s"),
    )
    dec = "decimal(38,0)"
    u = (
        daily.join(F.broadcast(tot), "event_type")
        .select(
            "event_type",
            "day",
            (F.col("n_days") * F.col("cents") - F.col("s"))
            .cast(dec)
            .alias("u"),
        )
        .localCheckpoint()
    )
    den = u.groupBy("event_type").agg(
        F.sum(F.col("u") * F.col("u")).alias("den")
    )
    lags = F.broadcast(
        spark.createDataFrame([(i,) for i in range(1, 8)], "lag int")
    )
    a = u.select(
        F.col("event_type").alias("et"),
        F.col("day").alias("day_a"),
        F.col("u").alias("ua"),
    ).crossJoin(lags)
    b = u.select(
        F.col("event_type").alias("et_b"),
        F.col("day").alias("day_b"),
        F.col("u").alias("ub"),
    )
    num = (
        a.join(
            b,
            (F.col("et") == F.col("et_b"))
            & (F.col("day_b") == F.col("day_a") + F.col("lag")),
        )
        .groupBy(F.col("et").alias("event_type"), "lag")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
            F.sum(F.col("ua") * F.col("ub")).alias("num"),
        )
    )
    return (
        num.join(F.broadcast(den), "event_type")
        .join(F.broadcast(tot), "event_type")
        .select(
            "event_type",
            F.col("lag").cast("int").alias("lag"),
            F.col("n_days").cast("bigint").alias("n_days"),
            "n_pairs",
            F.expr(
                "CAST(CASE WHEN den = 0 THEN 0"
                " ELSE num * 1000 div den END AS BIGINT)"
            ).alias("acf_milli"),
        )
    )


# ---------------------------------------------------------------------------
# ts_control_rules
# ---------------------------------------------------------------------------

_CONTROL_SQL = """
    WITH daily AS MATERIALIZED (
      SELECT event_type,
             epoch_us(ts) // 86400000000 AS day,
             sum(CAST(round(value * 100, 0) AS BIGINT)) AS cents
      FROM events GROUP BY 1, 2),
    tot AS MATERIALIZED (
      SELECT event_type, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(cents) AS BIGINT) AS s,
             CAST(sum(CAST(cents AS HUGEINT) * cents) AS HUGEINT) AS sxx
      FROM daily GROUP BY 1),
    u AS (
      SELECT d.event_type, d.day,
             CAST(t.n * d.cents - t.s AS HUGEINT) AS u,
             t.n, t.s, t.sxx,
             row_number() OVER (PARTITION BY d.event_type
                                ORDER BY d.day) AS rn
      FROM daily d JOIN tot t ON d.event_type = t.event_type),
    flags AS (
      SELECT event_type, day, rn,
             CASE WHEN u * u > 9 * (n * sxx - CAST(s AS HUGEINT) * s)
                  THEN 1 ELSE 0 END AS rule1,
             CASE WHEN u > 0 THEN 1 WHEN u < 0 THEN -1 ELSE 0 END AS side
      FROM u),
    islands AS (
      SELECT event_type, side,
             rn - row_number() OVER (PARTITION BY event_type, side
                                     ORDER BY rn) AS grp
      FROM flags WHERE side <> 0),
    runs AS (
      SELECT event_type, CAST(count(*) AS BIGINT) AS run_len
      FROM islands GROUP BY event_type, side, grp),
    rstats AS (
      SELECT event_type,
             CAST(max(run_len) AS BIGINT) AS longest_run,
             CAST(sum(CASE WHEN run_len >= 8 THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_runs_ge8
      FROM runs GROUP BY 1),
    base AS (
      SELECT event_type,
             CAST(max(rn) AS BIGINT) AS n_days,
             CAST(sum(rule1) AS BIGINT) AS n_beyond_3sigma
      FROM flags GROUP BY 1)
    SELECT base.event_type, base.n_days, base.n_beyond_3sigma,
           CAST(coalesce(rstats.longest_run, 0) AS BIGINT) AS longest_run,
           CAST(coalesce(rstats.n_runs_ge8, 0) AS BIGINT) AS n_runs_ge8
    FROM base LEFT JOIN rstats ON base.event_type = rstats.event_type
"""


@register(
    "ts_control_rules",
    _CONTROL_SQL,
    "Western Electric control-chart screen over the per-type daily "
    "series: rule 1 — observations beyond 3 sigma of the series mean "
    "— plus the run rule — maximal runs of 8+ consecutive "
    "observations strictly on one side of the mean (longest run and "
    "how many alarm-length runs) — the process-shift alarms SPC has "
    "used since the 1950s; the registry's outlier family "
    "(ts_anomaly_iqr, ts_hampel_outliers) flags single points, while "
    "the run rule catches sustained drifts too small for any "
    "single-point test. EXACT: (x_t - m)^2 > 9 sigma^2 is multiplied "
    "through by n^2 into (n*x_t - S)^2 > 9*(n*Sxx - S^2) — mean and "
    "sigma never exist as floats; sides are exact signs of n*x_t - S "
    "(on-mean days break runs); runs are the gaps-islands row_number "
    "difference over the day-ordered sign sequence. Shape: day-grain "
    "pre-agg FIRST, per-type totals broadcast back, every window "
    "partitions by event_type over the calendar-bounded day dim",
)
def ts_control_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type",
        F.expr("unix_micros(ts) div 86400000000").alias("day"),
    ).agg(
        F.sum(F.round(F.col("value") * 100, 0).cast("bigint")).alias(
            "cents"
        )
    )
    dec = "decimal(38,0)"
    tot = daily.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("cents").cast("bigint").alias("s"),
        F.sum(F.col("cents").cast(dec) * F.col("cents")).alias("sxx"),
    )
    wr = Window.partitionBy("event_type").orderBy("day")
    u = (
        daily.join(F.broadcast(tot), "event_type")
        .select(
            "event_type",
            "day",
            (F.col("n") * F.col("cents") - F.col("s"))
            .cast(dec)
            .alias("u"),
            "n",
            "s",
            "sxx",
        )
        .withColumn("rn", F.row_number().over(wr))
    )
    flags = u.select(
        "event_type",
        "rn",
        F.expr(
            "CASE WHEN u * u >"
            " 9 * (n * sxx - CAST(s AS DECIMAL(38,0)) * s)"
            " THEN 1 ELSE 0 END"
        ).alias("rule1"),
        F.expr(
            "CASE WHEN u > 0 THEN 1 WHEN u < 0 THEN -1 ELSE 0 END"
        ).alias("side"),
    ).localCheckpoint()
    wi = Window.partitionBy("event_type", "side").orderBy("rn")
    islands = flags.filter(F.col("side") != 0).select(
        "event_type",
        "side",
        (F.col("rn") - F.row_number().over(wi)).alias("grp"),
    )
    runs = islands.groupBy("event_type", "side", "grp").agg(
        F.count(F.lit(1)).cast("bigint").alias("run_len")
    )
    run_stats = runs.groupBy("event_type").agg(
        F.max("run_len").cast("bigint").alias("longest_run"),
        F.sum(F.when(F.col("run_len") >= 8, 1).otherwise(0))
        .cast("bigint")
        .alias("n_runs_ge8"),
    )
    base = flags.groupBy("event_type").agg(
        F.max("rn").cast("bigint").alias("n_days"),
        F.sum("rule1").cast("bigint").alias("n_beyond_3sigma"),
    )
    return base.join(F.broadcast(run_stats), "event_type", "left").select(
        "event_type",
        "n_days",
        "n_beyond_3sigma",
        F.coalesce(F.col("longest_run"), F.lit(0))
        .cast("bigint")
        .alias("longest_run"),
        F.coalesce(F.col("n_runs_ge8"), F.lit(0))
        .cast("bigint")
        .alias("n_runs_ge8"),
    )


# ---------------------------------------------------------------------------
# ts_max_drawdown
# ---------------------------------------------------------------------------

_DRAWDOWN_SQL = """
    WITH daily AS (
      SELECT epoch_us(o_orderdate) // 86400000000 AS day,
             CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,2))) * 100, 0)
               AS BIGINT) AS cents
      FROM orders GROUP BY 1),
    run AS (
      SELECT day, cents,
             max(cents) OVER (ORDER BY day
               ROWS UNBOUNDED PRECEDING) AS peak
      FROM daily),
    dd AS (
      SELECT day, cents, peak, peak - cents AS drawdown,
             row_number() OVER (ORDER BY peak - cents DESC, day) AS rn
      FROM run)
    SELECT CAST((SELECT count(*) FROM daily) AS BIGINT) AS n_days,
           CAST(peak AS BIGINT) AS peak_cents,
           CAST(cents AS BIGINT) AS trough_cents,
           CAST(drawdown AS BIGINT) AS max_drawdown_cents,
           CAST(day AS BIGINT) AS trough_day
    FROM dd WHERE rn = 1
"""


@register(
    "ts_max_drawdown",
    _DRAWDOWN_SQL,
    "worst peak-to-trough decline of the daily revenue series: "
    "running max over days vs the day's revenue, reporting the "
    "maximum gap, the peak it fell from, and the trough day (earliest "
    "on ties) — the metric-stability question every ops review asks "
    "of a daily chart (ts_control_rules flags rule violations; "
    "drawdown gives the single worst excursion with its magnitude). "
    "EXACT: daily revenue as decimal-summed integer cents "
    "(order-independent), pure integer max/compare after. Shape: one "
    "fact hash-agg to the day grain; the running-max and argmax "
    "windows run over the bounded calendar-day dim (the MASE "
    "discipline — day-grain pre-agg before any window)",
)
def ts_max_drawdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    daily = orders.groupBy(
        F.expr(
            "unix_micros(CAST(o_orderdate AS TIMESTAMP))"
            " div 86400000000"
        ).alias("day")
    ).agg(
        F.round(
            F.sum(F.col("o_totalprice").cast("decimal(18,2)")) * 100, 0
        )
        .cast("bigint")
        .alias("cents")
    )
    wr = Window.orderBy("day").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    run = daily.withColumn("peak", F.max("cents").over(wr))
    wd = Window.orderBy(
        F.desc(F.col("peak") - F.col("cents")), F.col("day")
    )
    nd = daily.agg(F.count(F.lit(1)).cast("bigint").alias("n_days"))
    return (
        run.withColumn("rn", F.row_number().over(wd))
        .filter(F.col("rn") == 1)
        .crossJoin(F.broadcast(nd))
        .select(
            "n_days",
            F.col("peak").cast("bigint").alias("peak_cents"),
            F.col("cents").cast("bigint").alias("trough_cents"),
            (F.col("peak") - F.col("cents"))
            .cast("bigint")
            .alias("max_drawdown_cents"),
            F.col("day").cast("bigint").alias("trough_day"),
        )
    )


# ts_weekday_anova ----------------------------------------------------------

_ANOVA_SQL = """
    WITH daily AS (
      SELECT epoch_us(ts) // 86400000000 AS day,
             CAST(sum(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT)
               AS cents
      FROM events GROUP BY 1),
    grp AS (
      SELECT CAST(day % 7 AS INT) AS dow,
             CAST(count(*) AS BIGINT) AS n_g,
             CAST(sum(cents) AS HUGEINT) AS s_g,
             CAST(sum(CAST(cents AS HUGEINT) * cents) AS HUGEINT) AS ss_g
      FROM daily GROUP BY 1),
    tot AS (
      SELECT CAST(sum(n_g) AS BIGINT) AS n,
             CAST(count(*) AS BIGINT) AS k,
             CAST(sum(s_g) AS HUGEINT) AS s,
             CAST(sum(ss_g) AS HUGEINT) AS ssq,
             sum(CAST(s_g AS DOUBLE) * CAST(s_g AS DOUBLE)
                 / CAST(n_g AS DOUBLE)) AS sb
      FROM grp)
    SELECT n, CAST(k AS INT) AS k,
           round(sb - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / n, 2)
             AS ssb,
           round(CAST(ssq AS DOUBLE) - sb, 2) AS ssw,
           round(CASE WHEN k < 2 OR n <= k
                      OR CAST(ssq AS DOUBLE) - sb <= 0 THEN 0.0
             ELSE ((sb - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / n)
                   / (k - 1))
                  / ((CAST(ssq AS DOUBLE) - sb) / (n - k)) END, 6)
             AS f_stat
    FROM tot
"""


@register(
    "ts_weekday_anova",
    _ANOVA_SQL,
    "one-way ANOVA of daily revenue by weekday (epoch-day mod 7 — a "
    "fixed 7-group partition, anchor documented): between/within sum "
    "of squares and the F statistic — rel_dow_hour_matrix SHOWS the "
    "weekly pattern, ts_acf_exact correlates lag 7, this one says "
    "whether the weekday means differ MORE than daily noise explains "
    "(the significance gate before anyone ships a weekday-seasonal "
    "model; F is a variance ratio, so no sqrt appears anywhere). "
    "EXACT spine: per-group day counts, cent sums and squared sums "
    "in int128 — the only doubles are the final SSB/SSW/F divisions "
    "on identical exact operands (round-2/round-6, the ab_ttest_welch "
    "float discipline); degenerate cases report 0. Shape: day-grain "
    "pre-agg FIRST (the MASE discipline), one 7-row group hash-agg, "
    "one 1-row rollup",
)
def ts_weekday_anova(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    daily = ev.groupBy(
        F.expr("unix_micros(ts) div 86400000000").alias("day")
    ).agg(
        F.sum(F.round(F.col("value") * 100, 0).cast("bigint"))
        .cast("bigint")
        .alias("cents")
    )
    dec = "decimal(38,0)"
    grp = daily.groupBy(
        F.expr("CAST(day % 7 AS INT)").alias("dow")
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_g"),
        F.sum(F.col("cents").cast(dec)).alias("s_g"),
        F.sum(F.col("cents").cast(dec) * F.col("cents")).alias("ss_g"),
    )
    tot = grp.agg(
        F.sum("n_g").cast("bigint").alias("n"),
        F.count(F.lit(1)).cast("bigint").alias("k"),
        F.sum("s_g").alias("s"),
        F.sum("ss_g").alias("ssq"),
        F.sum(
            F.col("s_g").cast("double")
            * F.col("s_g").cast("double")
            / F.col("n_g").cast("double")
        ).alias("sb"),
    )
    return tot.select(
        "n",
        F.col("k").cast("int").alias("k"),
        F.expr(
            "round(sb - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / n, 2)"
        ).alias("ssb"),
        F.expr("round(CAST(ssq AS DOUBLE) - sb, 2)").alias("ssw"),
        F.expr(
            "round(CASE WHEN k < 2 OR n <= k"
            " OR CAST(ssq AS DOUBLE) - sb <= 0 THEN 0.0"
            " ELSE ((sb - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / n)"
            " / (k - 1))"
            " / ((CAST(ssq AS DOUBLE) - sb) / (n - k)) END, 6)"
        ).alias("f_stat"),
    )


# ---------------------------------------------------------------------------
# ts_dominant_period
# ---------------------------------------------------------------------------

_DOM_PERIOD_SQL = """
    WITH daily AS MATERIALIZED (
      SELECT event_type,
             epoch_us(ts) // 86400000000 AS day,
             sum(CAST(round(value * 100, 0) AS BIGINT)) AS cents
      FROM events GROUP BY 1, 2),
    tot AS MATERIALIZED (
      SELECT event_type, CAST(count(*) AS BIGINT) AS n_days,
             CAST(sum(cents) AS BIGINT) AS s
      FROM daily GROUP BY 1),
    u AS MATERIALIZED (
      SELECT d.event_type, d.day,
             CAST(t.n_days * d.cents - t.s AS HUGEINT) AS u
      FROM daily d JOIN tot t ON d.event_type = t.event_type),
    den AS (
      SELECT event_type, CAST(sum(u * u) AS HUGEINT) AS den
      FROM u GROUP BY 1),
    lags AS (SELECT unnest(range(1, 15)) AS lag),
    num AS (
      SELECT a.event_type, l.lag,
             CAST(sum(a.u * b.u) AS HUGEINT) AS num
      FROM u a
      CROSS JOIN lags l
      JOIN u b ON b.event_type = a.event_type AND b.day = a.day + l.lag
      GROUP BY 1, 2),
    ranked AS (
      SELECT n.event_type, n.lag, n.num, d.den, t.n_days,
             row_number() OVER (PARTITION BY n.event_type
               ORDER BY n.num DESC, n.lag) AS rn
      FROM num n
      JOIN den d ON n.event_type = d.event_type
      JOIN tot t ON n.event_type = t.event_type)
    SELECT event_type,
           CAST(lag AS INT) AS dominant_lag,
           CAST(n_days AS BIGINT) AS n_days,
           CAST(CASE WHEN den = 0 THEN 0
             ELSE num * 1000 // den END AS BIGINT) AS acf_milli
    FROM ranked WHERE rn = 1
"""


@register(
    "ts_dominant_period",
    _DOM_PERIOD_SQL,
    "dominant seasonal period per event type: argmax over lags 1..14 "
    "of the exact integer ACF (the ts_acf_exact machinery — "
    "u_t = n*x_t - S, per-type denominator sum(u^2) shared across "
    "lags, so the argmax compares INTEGER numerators and divides only "
    "in the report; ties to the smallest lag) — ts_mase and "
    "ts_seasonal_naive ASSUME period 7, ts_acf_exact prints the whole "
    "correlogram; this extracts the one number a pipeline can branch "
    "on (a type whose dominant lag is not 7 must not be scored by a "
    "weekly-seasonal baseline). A constant series (den = 0) reports "
    "acf 0 at its argmax lag. Shape: day-grain pre-agg FIRST (the "
    "MASE discipline), 14 shifted-key joins against the day dim, "
    "then a per-type argmax window over a 14-row relation",
)
def ts_dominant_period(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type",
        F.expr("unix_micros(ts) div 86400000000").alias("day"),
    ).agg(
        F.sum(F.round(F.col("value") * 100, 0).cast("bigint")).alias(
            "cents"
        )
    )
    tot = daily.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_days"),
        F.sum("cents").cast("bigint").alias("s"),
    )
    dec = "decimal(38,0)"
    u = (
        daily.join(F.broadcast(tot), "event_type")
        .select(
            "event_type",
            "day",
            (F.col("n_days") * F.col("cents") - F.col("s"))
            .cast(dec)
            .alias("u"),
        )
        .localCheckpoint()
    )
    den = u.groupBy("event_type").agg(
        F.sum(F.col("u") * F.col("u")).alias("den")
    )
    lags = F.broadcast(
        spark.createDataFrame([(i,) for i in range(1, 15)], "lag int")
    )
    a = u.select(
        F.col("event_type").alias("et"),
        F.col("day").alias("day_a"),
        F.col("u").alias("ua"),
    ).crossJoin(lags)
    b = u.select(
        F.col("event_type").alias("et_b"),
        F.col("day").alias("day_b"),
        F.col("u").alias("ub"),
    )
    num = (
        a.join(
            b,
            (F.col("et") == F.col("et_b"))
            & (F.col("day_b") == F.col("day_a") + F.col("lag")),
        )
        .groupBy(F.col("et").alias("event_type"), "lag")
        .agg(F.sum(F.col("ua") * F.col("ub")).alias("num"))
    )
    w = Window.partitionBy("event_type").orderBy(
        F.desc("num"), F.col("lag")
    )
    return (
        num.join(F.broadcast(den), "event_type")
        .join(F.broadcast(tot), "event_type")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "event_type",
            F.col("lag").cast("int").alias("dominant_lag"),
            F.col("n_days").cast("bigint").alias("n_days"),
            F.expr(
                "CAST(CASE WHEN den = 0 THEN 0"
                " ELSE num * 1000 div den END AS BIGINT)"
            ).alias("acf_milli"),
        )
    )


# ---------------------------------------------------------------------------
# ts_turning_points
# ---------------------------------------------------------------------------

_TURNING_SQL = """
    WITH daily AS MATERIALIZED (
      SELECT event_type,
             epoch_us(ts) // 86400000000 AS day,
             sum(CAST(round(value * 100, 0) AS BIGINT)) AS cents
      FROM events GROUP BY 1, 2),
    lagged AS (
      SELECT event_type, cents,
             lag(cents) OVER (PARTITION BY event_type ORDER BY day)
               AS prev,
             lead(cents) OVER (PARTITION BY event_type ORDER BY day)
               AS nxt
      FROM daily)
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_days,
           CAST(sum(CASE WHEN prev IS NOT NULL AND nxt IS NOT NULL
             AND ((prev < cents AND nxt < cents)
                  OR (prev > cents AND nxt > cents))
             THEN 1 ELSE 0 END) AS BIGINT) AS n_turning,
           CAST(CASE WHEN count(*) < 3 THEN 0
             ELSE sum(CASE WHEN prev IS NOT NULL AND nxt IS NOT NULL
               AND ((prev < cents AND nxt < cents)
                    OR (prev > cents AND nxt > cents))
               THEN 1 ELSE 0 END) * 1000 // (count(*) - 2)
             END AS BIGINT) AS turning_rate_milli,
           CAST(CASE WHEN count(*) < 3 THEN 0
             ELSE 2000 * (count(*) - 2) // 3 END AS BIGINT)
             AS expected_count_milli
    FROM lagged GROUP BY event_type
"""


@register(
    "ts_turning_points",
    _TURNING_SQL,
    "turning-point randomness test per event type: strict local "
    "extrema of the daily series (prev < x > next or prev > x < next "
    "over the day-ordered sequence; ties are NOT extrema), with the "
    "i.i.d. reference E = 2(n-2)/3 reported in milli — far fewer "
    "turning points than random means the series trends or sticks "
    "(ts_control_rules' runs test asks about LEVELS vs the mean; this "
    "asks about local SHAPE and needs no mean at all). Adjacency is "
    "value-order adjacency over the present days (a gap's endpoints "
    "are compared directly — ts_gap_stats audits the gaps "
    "themselves). Shape: day-grain pre-agg FIRST, one lag/lead window "
    "partitioned by type, one per-type rollup — exact integer counts",
)
def ts_turning_points(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type",
        F.expr("unix_micros(ts) div 86400000000").alias("day"),
    ).agg(
        F.sum(F.round(F.col("value") * 100, 0).cast("bigint")).alias(
            "cents"
        )
    )
    w = Window.partitionBy("event_type").orderBy("day")
    lagged = daily.select(
        "event_type",
        "cents",
        F.lag("cents").over(w).alias("prev"),
        F.lead("cents").over(w).alias("nxt"),
    )
    turning = F.when(
        F.col("prev").isNotNull()
        & F.col("nxt").isNotNull()
        & (
            ((F.col("prev") < F.col("cents")) & (F.col("nxt") < F.col("cents")))
            | ((F.col("prev") > F.col("cents")) & (F.col("nxt") > F.col("cents")))
        ),
        1,
    ).otherwise(0)
    return lagged.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_days"),
        F.sum(turning).cast("bigint").alias("n_turning"),
        F.expr(
            "CAST(CASE WHEN count(1) < 3 THEN 0 ELSE sum(CASE WHEN"
            " prev IS NOT NULL AND nxt IS NOT NULL AND ((prev < cents"
            " AND nxt < cents) OR (prev > cents AND nxt > cents))"
            " THEN 1 ELSE 0 END) * 1000 div (count(1) - 2) END"
            " AS BIGINT)"
        ).alias("turning_rate_milli"),
        F.expr(
            "CAST(CASE WHEN count(1) < 3 THEN 0"
            " ELSE 2000 * (count(1) - 2) div 3 END AS BIGINT)"
        ).alias("expected_count_milli"),
    )


# ---------------------------------------------------------------------------
# ts_gap_stats
# ---------------------------------------------------------------------------

_GAP_STATS_SQL = """
    WITH daily AS MATERIALIZED (
      SELECT DISTINCT event_type,
             epoch_us(ts) // 86400000000 AS day
      FROM events),
    lagged AS (
      SELECT event_type, day,
             lag(day) OVER (PARTITION BY event_type ORDER BY day)
               AS prev_day
      FROM daily)
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_days,
           CAST(max(day) - min(day) + 1 AS BIGINT) AS span_days,
           CAST(max(day) - min(day) + 1 - count(*) AS BIGINT)
             AS n_missing,
           CAST(sum(CASE WHEN prev_day IS NOT NULL
             AND day - prev_day > 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_gaps,
           CAST(coalesce(max(CASE WHEN prev_day IS NOT NULL
             THEN day - prev_day - 1 END), 0) AS BIGINT)
             AS longest_gap
    FROM lagged GROUP BY event_type
"""


@register(
    "ts_gap_stats",
    _GAP_STATS_SQL,
    "daily-continuity audit per event type: days present, calendar "
    "span, missing days, gap count, longest gap (islands arithmetic: "
    "day - lag(day) - 1). ts_gap_fill / ts_locf FILL gaps assuming "
    "they are benign; this is the audit that says whether they are (a "
    "30-day hole is an outage to exclude, not noise to interpolate) — "
    "the per-type summary twin of rel_gaps_islands' island "
    "enumeration. Shape: DISTINCT day pre-agg, one lag window "
    "partitioned by type, one per-type rollup — exact integer day "
    "arithmetic, no calendar table",
)
def ts_gap_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    daily = ev.select(
        "event_type",
        F.expr("unix_micros(ts) div 86400000000").alias("day"),
    ).distinct()
    w = Window.partitionBy("event_type").orderBy("day")
    lagged = daily.select(
        "event_type", "day", F.lag("day").over(w).alias("prev_day")
    )
    return lagged.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_days"),
        (F.max("day") - F.min("day") + 1).cast("bigint").alias(
            "span_days"
        ),
        (F.max("day") - F.min("day") + 1 - F.count(F.lit(1)))
        .cast("bigint")
        .alias("n_missing"),
        F.sum(
            F.when(
                F.col("prev_day").isNotNull()
                & (F.col("day") - F.col("prev_day") > 1),
                1,
            ).otherwise(0)
        )
        .cast("bigint")
        .alias("n_gaps"),
        F.coalesce(
            F.max(
                F.when(
                    F.col("prev_day").isNotNull(),
                    F.col("day") - F.col("prev_day") - 1,
                )
            ),
            F.lit(0),
        )
        .cast("bigint")
        .alias("longest_gap"),
    )


# ---------------------------------------------------------------------------
# ts_fano_factor
# ---------------------------------------------------------------------------

_FANO_SQL = """
    WITH daily AS MATERIALIZED (
      SELECT event_type,
             epoch_us(ts) // 86400000000 AS day,
             CAST(count(*) AS BIGINT) AS x
      FROM events GROUP BY 1, 2)
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_days,
           CAST(sum(x) AS BIGINT) AS n_events,
           CAST(CASE WHEN count(*) * sum(x) = 0 THEN 0
             ELSE (count(*) * sum(x * x) - sum(x) * sum(x)) * 1000
                  // (count(*) * sum(x)) END AS BIGINT) AS fano_milli
    FROM daily GROUP BY event_type
"""


@register(
    "ts_fano_factor",
    _FANO_SQL,
    "overdispersion (Fano factor) of daily event counts per type: "
    "F = variance/mean of the day-grain counts as the exact integer "
    "ratio (n*Q - S^2) / (n*S) in milli — F ~ 1000 is Poisson "
    "arrivals, F >> 1000 is bursty (campaign days, batch replays, "
    "incident retries). The arrival-process diagnostic read before "
    "any rate-based anomaly rule (ts_anomaly_iqr, ts_control_rules) "
    "is allowed to assume stable variance; ts_turning_points tests "
    "the VALUE sequence's shape, this tests the COUNT process's "
    "dispersion. Shape: day-grain count pre-agg, one |types|-row "
    "integer moment hash-agg — no windows, no pairs",
)
def ts_fano_factor(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type",
        F.expr("unix_micros(ts) div 86400000000").alias("day"),
    ).agg(F.count(F.lit(1)).cast("bigint").alias("x"))
    return daily.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_days"),
        F.sum("x").cast("bigint").alias("n_events"),
        F.expr(
            "CAST(CASE WHEN count(1) * sum(x) = 0 THEN 0"
            " ELSE (count(1) * sum(x * x) - sum(x) * sum(x)) * 1000"
            " div (count(1) * sum(x)) END AS BIGINT)"
        ).alias("fano_milli"),
    )


# ---------------------------------------------------------------------------
# ts_fano_grain_curve
# ---------------------------------------------------------------------------

_FANO_GRAIN_SQL = """
    WITH g AS (
      SELECT unnest(['hour', 'day', 'week']) AS grain,
             unnest([3600000000, 86400000000, 604800000000]) AS gus),
    bk AS MATERIALIZED (
      SELECT event_type, grain,
             epoch_us(ts) // gus AS bucket,
             CAST(count(*) AS BIGINT) AS x
      FROM events CROSS JOIN g
      GROUP BY 1, 2, 3)
    SELECT event_type, grain,
           CAST(count(*) AS BIGINT) AS n_buckets,
           CAST(sum(x) AS BIGINT) AS n_events,
           CAST(CASE WHEN count(*) * sum(x) = 0 THEN 0
             ELSE (count(*) * sum(x * x) - sum(x) * sum(x)) * 1000
                  // (count(*) * sum(x)) END AS BIGINT) AS fano_milli
    FROM bk GROUP BY event_type, grain
"""


@register(
    "ts_fano_grain_curve",
    _FANO_GRAIN_SQL,
    "the Fano factor swept across count grains {hour, day, week} per "
    "event type — overdispersion is timescale-dependent: a process "
    "Poisson at the day grain can be bursty at the hour grain "
    "(intra-day campaigns) or at the week grain (weekly batch "
    "replays), and the grain where F first leaves ~1000 milli locates "
    "the burst timescale that sizes windows, anomaly baselines, and "
    "the stream_watermark_advisor's slack. Same exact integer "
    "(n*Q - S^2)/(n*S) milli ratio as ts_fano_factor, one row per "
    "(type, grain). Shape: ONE events scan fanned x3 by a broadcast "
    "3-row grain dim into a (type, grain, bucket) hash-agg, then a "
    "15-row moment rollup — no windows, no pairs",
)
def ts_fano_grain_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    g = F.broadcast(
        spark.createDataFrame(
            [
                ("hour", 3600000000),
                ("day", 86400000000),
                ("week", 604800000000),
            ],
            "grain string, gus bigint",
        )
    )
    bk = (
        ev.select("event_type", F.unix_micros("ts").alias("us"))
        .crossJoin(g)
        .groupBy(
            "event_type",
            "grain",
            F.expr("us div gus").alias("bucket"),
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("x"))
    )
    return bk.groupBy("event_type", "grain").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_buckets"),
        F.sum("x").cast("bigint").alias("n_events"),
        F.expr(
            "CAST(CASE WHEN count(1) * sum(x) = 0 THEN 0"
            " ELSE (count(1) * sum(x * x) - sum(x) * sum(x)) * 1000"
            " div (count(1) * sum(x)) END AS BIGINT)"
        ).alias("fano_milli"),
    )


_TIMEOUTS_S = (60, 300, 1800, 7200)


# ---------------------------------------------------------------------------
# ts_session_timeout_sweep
# ---------------------------------------------------------------------------


def _timeout_sweep_sql() -> str:
    thr = ", ".join(str(t) for t in _TIMEOUTS_S)
    return f"""
    WITH e AS (
      SELECT user_id, epoch_us(ts) AS us, event_id FROM events),
    g AS MATERIALIZED (
      SELECT user_id, us, event_id,
             us - lag(us) OVER (PARTITION BY user_id
                                ORDER BY us, event_id) AS gap_us
      FROM e),
    arms AS (SELECT unnest([{thr}]) AS timeout_s),
    flagged AS (
      SELECT a.timeout_s, g.user_id, g.us, g.event_id,
             CASE WHEN g.gap_us IS NULL
                    OR g.gap_us > CAST(a.timeout_s AS BIGINT) * 1000000
                  THEN 1 ELSE 0 END AS new_s
      FROM g CROSS JOIN arms a),
    ses AS (
      SELECT timeout_s, user_id,
             sum(new_s) OVER (PARTITION BY timeout_s, user_id
                              ORDER BY us, event_id
                              ROWS UNBOUNDED PRECEDING) AS sid
      FROM flagged),
    per AS MATERIALIZED (
      SELECT timeout_s, user_id, sid,
             CAST(count(*) AS BIGINT) AS n_ev
      FROM ses GROUP BY 1, 2, 3)
    SELECT CAST(timeout_s AS INT) AS timeout_s,
           CAST(count(*) AS BIGINT) AS n_sessions,
           CAST(sum(CASE WHEN n_ev = 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_singletons,
           CAST(sum(CASE WHEN n_ev = 1 THEN 1 ELSE 0 END) * 1000
             // count(*) AS BIGINT) AS singleton_milli,
           CAST(sum(n_ev) * 1000 // count(*) AS BIGINT)
             AS events_per_session_milli,
           CAST(max(n_ev) AS BIGINT) AS max_session_events
    FROM per GROUP BY timeout_s
"""


@register(
    "ts_session_timeout_sweep",
    _timeout_sweep_sql(),
    "sessionization-timeout economics — prices the inactivity "
    "threshold the way dedup_band_sweep prices LSH banding: for "
    "timeouts {60 s, 5 min, 30 min, 2 h}, the session count, "
    "singleton-session count and share, mean events per session "
    "(milli), and the largest session. ts_sessionize commits to the "
    "30-min convention; this is the table you read BEFORE committing "
    "— where the session count stops collapsing is the corpus's "
    "natural idle timescale (and the stream_watermark_advisor's "
    "state-size knob priced end-to-end). Shape: ONE (user, time) "
    "window pass computing every arm's running session id at once, "
    "arm fan-out AFTER the window into a map-side-combinable "
    "hash-agg — the arm dim never multiplies the sort",
)
def ts_session_timeout_sweep(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    events = _t(spark, sf_dir, "events")
    e = events.select(
        "user_id",
        F.unix_micros("ts").alias("us"),
        "event_id",
    )
    # ONE window pass for all four arms (r14, guide §2.4): per-arm
    # session ids are running counts of that arm's session-start flags
    # over the SAME (user, time) order, so four running sums over one
    # sorted pass replace the 4x-row crossJoin + 4x-data window sort;
    # the 4x fan-out happens AFTER the window, into a hash-agg whose
    # map side compresses it
    wlag = Window.partitionBy("user_id").orderBy("us", "event_id")
    wrun = wlag.rowsBetween(Window.unboundedPreceding, 0)
    g = e.withColumn(
        "gap_us", F.col("us") - F.lag("us").over(wlag)
    )
    sids = g.select(
        "user_id",
        *[
            F.sum(
                F.when(
                    F.col("gap_us").isNull()
                    | (F.col("gap_us") > t * 1_000_000),
                    1,
                ).otherwise(0)
            )
            .over(wrun)
            .alias(f"_sid{t}")
            for t in _TIMEOUTS_S
        ],
    )
    per = (
        sids.select(
            "user_id",
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(t).cast("int").alias("timeout_s"),
                            F.col(f"_sid{t}").alias("sid"),
                        )
                        for t in _TIMEOUTS_S
                    ]
                )
            ).alias("a"),
        )
        .select("a.timeout_s", "user_id", "a.sid")
        .groupBy("timeout_s", "user_id", "sid")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_ev"))
    )
    return per.groupBy("timeout_s").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_sessions"),
        F.sum(F.when(F.col("n_ev") == 1, 1).otherwise(0))
        .cast("bigint")
        .alias("n_singletons"),
        F.expr(
            "CAST(sum(CASE WHEN n_ev = 1 THEN 1 ELSE 0 END) * 1000"
            " div count(*) AS BIGINT)"
        ).alias("singleton_milli"),
        F.expr(
            "CAST(sum(n_ev) * 1000 div count(*) AS BIGINT)"
        ).alias("events_per_session_milli"),
        F.max("n_ev").cast("bigint").alias("max_session_events"),
    ).select(
        F.col("timeout_s").cast("int").alias("timeout_s"),
        "n_sessions",
        "n_singletons",
        "singleton_milli",
        "events_per_session_milli",
        "max_session_events",
    )
