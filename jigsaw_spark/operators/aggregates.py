"""Aggregation operators.

Reference semantics (SURVEY §2.4):
  - A1 distinct label set, sorted, Background excluded
    (jigsaw/model_utils/transforms.py:12-41)
  - A2 dense label numbering 1..N (jigsaw/model_utils/base/mask.py:320-338;
    deterministic sorted order chosen over the reference's mutable
    insertion order — documented deviation, SURVEY §2.4 A2)
  - A3 Welford streaming mean/stddev_pop
    (jigsaw/models/feature_points/model.py:75-113) — numerically identical
    to Spark's built-in avg/stddev_pop (both are population moments)
  - A4 cardinality counts (filters.py:156,203-207)
  - A5 bounding-box extent merge: min/max over merged labels
    (jigsaw/models/bbox/model.py:231-246)

All are stock hash aggregations: map-side partial aggregation (combine)
happens automatically, so at 100 TB the shuffle carries one row per
(partition × group), not per input row.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def distinct_labels(
    df: DataFrame,
    label_col: str = "label",
    exclude: tuple[str, ...] = ("background",),
) -> DataFrame:
    """A1: distinct labels, case-insensitive exclusion (the reference is
    inconsistent about 'Background' casing — quirk F7 normalized), sorted."""
    out = df.select(F.col(label_col).alias("label")).distinct()
    if exclude:
        out = out.filter(~F.lower(F.col("label")).isin([e.lower() for e in exclude]))
    return out.orderBy("label")


def dense_label_map(
    df: DataFrame,
    label_col: str = "label",
    exclude: tuple[str, ...] = ("background",),
) -> DataFrame:
    """A2: label → dense int 1..N over sorted distinct labels. The label
    universe is tiny (a dimension); single-partition window is fine and the
    result broadcasts at join time (J4)."""
    labels = distinct_labels(df, label_col, exclude)
    w = Window.orderBy("label")
    return labels.withColumn("label_int", F.row_number().over(w))


def moments(
    df: DataFrame, group_cols: list[str], value_col: str
) -> DataFrame:
    """A3: per-group count / mean / population stddev — Welford's online
    algorithm produces exactly these statistics; Spark computes them as a
    single-pass partial aggregation (the distributed generalization of
    Welford)."""
    return df.groupBy(*group_cols).agg(
        F.count(value_col).alias("n"),
        F.avg(value_col).alias("mean"),
        F.stddev_pop(value_col).alias("stdev"),
    )


def rollup_agg(
    df: DataFrame, group_cols: list[str], aggs: list
) -> DataFrame:
    """Hierarchical subtotals (GROUP BY ROLLUP) — the generalized A4
    cardinality surface (SURVEY §2.4 notes grouping sets come free with
    Spark). Same hash-aggregate with partial combine; each rollup level
    adds one grouping set, not one pass."""
    return df.rollup(*group_cols).agg(*aggs)


def cube_agg(df: DataFrame, group_cols: list[str], aggs: list) -> DataFrame:
    """All-combinations subtotals (GROUP BY CUBE)."""
    return df.cube(*group_cols).agg(*aggs)


def vector_moments(df: DataFrame, vec_col: str = "embedding") -> DataFrame:
    """Per-dimension count/mean/stddev_pop over an array column — the
    tensor form of A3 (reference: per-pixel Welford accumulators for
    mean.npy / stdev.npy, jigsaw/models/feature_points/model.py:75-113).

    posexplode → groupBy(dim): the shuffle carries one partial aggregate
    per (partition × dim), so at 100 TB this moves |dims|·|partitions|
    rows, not |rows|·|dims| — the map-side combine does the heavy lifting."""
    ex = df.select(F.posexplode(vec_col).alias("dim", "v")).withColumn(
        "v", F.col("v").cast("double")
    )
    return ex.groupBy("dim").agg(
        F.count("v").alias("n"),
        F.avg("v").alias("mean"),
        F.stddev_pop("v").alias("stdev"),
    )


def extent_merge(
    df: DataFrame,
    group_cols: list[str],
    x_min: str = "xmin",
    x_max: str = "xmax",
    y_min: str = "ymin",
    y_max: str = "ymax",
) -> DataFrame:
    """A5: merge boxes sharing a (recoded) label into the enclosing extent."""
    return df.groupBy(*group_cols).agg(
        F.min(x_min).alias(x_min),
        F.max(x_max).alias(x_max),
        F.min(y_min).alias(y_min),
        F.max(y_max).alias(y_max),
    )


def groupwise_zscore(
    df: DataFrame,
    group_cols: list[str],
    value_col: str,
    out_col: str = "zscore",
) -> DataFrame:
    """Per-group standardization (z = (x - μ_g) / σ_g) as an
    `applyInPandas` group kernel — the canonical groupwise-Python shape
    for feature normalization / per-source model scoring. One shuffle on
    the group key; each group is one Arrow batch in pandas.

    The same semantics are a pure window expression (see the oracle for
    `agg_zscore_pandas`), which is what you'd use when no Python library is
    involved; this operator exists as the template for kernels that DO need
    Python (sklearn scalers, per-group model fits) with a verified
    relational baseline. Groups must fit one executor's memory — partition
    the group key further (salting) for pathological group sizes."""
    import pandas as pd

    out_fields = ", ".join(f"{f.name} {f.dataType.simpleString()}" for f in df.schema.fields)
    schema = f"{out_fields}, {out_col} double"

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        mu = pdf[value_col].mean()
        sigma = pdf[value_col].std(ddof=0)
        pdf[out_col] = 0.0 if sigma == 0 else (pdf[value_col] - mu) / sigma
        return pdf

    return df.groupBy(*group_cols).applyInPandas(kernel, schema)


def profile_columns(df, cols):
    """One-pass table profiler — per-column row/null/distinct counts and
    native min/max, returned long-form as ``(col_name, n_rows, n_nulls,
    n_distinct, min_val, max_val)`` with extrema stringified AFTER the
    native-type aggregate (so numeric min is numeric, not lexicographic).

    The data-engineering "describe my lake table" primitive: schema drift
    checks, null-rate monitors, join-key cardinality estimates before
    choosing a broadcast side.

    Scale shape: ONE scan. All per-column aggregates fuse into a single
    hash aggregate; the exact ``count_distinct`` columns expand the input
    ×len(cols) (Spark's Expand for multi-distinct). That is the exactness
    price — at 100 TB swap in ``approx_count_distinct`` (HLL++, no Expand,
    mergeable partials) which is the profiler default everywhere else;
    exact is kept here because the driver gate hash-compares values. The
    final long-form pivot is an explode of a len(cols)-element literal
    array — per OUTPUT row, negligible."""
    from pyspark.sql import functions as F

    aggs = [F.count(F.lit(1)).alias("_n")]
    for c in cols:
        aggs += [
            F.sum(F.col(c).isNull().cast("long")).alias(f"{c}__nulls"),
            F.count_distinct(F.col(c)).alias(f"{c}__distinct"),
            F.min(F.col(c)).alias(f"{c}__min"),
            F.max(F.col(c)).alias(f"{c}__max"),
        ]
    agged = df.agg(*aggs)
    rows = [
        F.struct(
            F.lit(c).alias("col_name"),
            F.col("_n").alias("n_rows"),
            F.col(f"{c}__nulls").alias("n_nulls"),
            F.col(f"{c}__distinct").alias("n_distinct"),
            F.col(f"{c}__min").cast("string").alias("min_val"),
            F.col(f"{c}__max").cast("string").alias("max_val"),
        )
        for c in cols
    ]
    return agged.select(F.explode(F.array(*rows)).alias("p")).select("p.*")


def countmin_table(
    toks,
    depth: int = 4,
    width: int = 256,
    seed: str = "cms",
    weight: str | None = None,
):
    """Count-Min sketch as a relation: the (d, cell) count table — a
    FIXED-SIZE corpus summary (depth x width rows regardless of
    vocabulary), built with ONE map-side-combinable hash agg. Cells are
    md5-stream indexed (functions/hashing.py), so the sketch is
    bit-reproducible across engines and partitionings, and two sketches
    merge by cell-wise addition (the mergeability HLL gives for distinct
    counts, here for frequencies).

    ``toks`` is a DataFrame with a ``term`` column (pre-exploded).
    ``weight``: optional count column — pass a PRE-AGGREGATED (term,
    count) relation instead of raw instances and the sketch sums the
    counts, which is identical by construction (a cell's count is the
    sum of its terms' instance counts) but hashes each distinct term
    once instead of once per instance (r13: the instance form computed
    depth × |instances| md5s; the aggregated form depth × |vocab|).
    """
    from pyspark.sql import functions as F

    from jigsaw_spark.functions.hashing import det_hash

    d = F.explode(F.array(*[F.lit(i) for i in range(depth)])).alias("d")
    cols = [F.col("term"), d] + ([F.col(weight)] if weight else [])
    cells = toks.select(*cols).select(
        "d",
        F.pmod(
            det_hash(F.concat_ws("|", F.col("d"), F.col("term")), seed=seed, chars=12),
            F.lit(width),
        ).alias("cell"),
        *([F.col(weight)] if weight else []),
    )
    agg = (
        F.sum(weight).alias("n") if weight else F.count(F.lit(1)).alias("n")
    )
    return cells.groupBy("d", "cell").agg(agg)


def countmin_estimate(candidates, cms, depth: int = 4, width: int = 256, seed: str = "cms"):
    """Point-frequency estimates for ``candidates`` (a ``term`` column)
    from a :func:`countmin_table` sketch: min over depths of the hashed
    cell's count (the classic one-sided overestimate). The sketch side is
    depth x width rows -> broadcast; the probe is a map-side join."""
    from pyspark.sql import functions as F

    from jigsaw_spark.functions.hashing import det_hash

    d = F.explode(F.array(*[F.lit(i) for i in range(depth)])).alias("d")
    probes = candidates.select(F.col("term"), d).select(
        "term",
        "d",
        F.pmod(
            det_hash(F.concat_ws("|", F.col("d"), F.col("term")), seed=seed, chars=12),
            F.lit(width),
        ).alias("cell"),
    )
    return (
        probes.join(F.broadcast(cms), ["d", "cell"], "left")
        .groupBy("term")
        .agg(F.min(F.coalesce("n", F.lit(0))).alias("est_n"))
    )


def sessionize(
    df: DataFrame,
    key: str,
    ts_col: str = "ts",
    gap_minutes: int = 30,
    tiebreak_col: str | None = None,
) -> DataFrame:
    """Gap-based batch sessionization: a new session starts whenever the
    time since the key's previous event exceeds ``gap_minutes`` (the
    batch twin of the streaming ``stream_stateful_sessions`` operator).

    Returns one row per event with ``session_id`` (1-based per key, in
    time order). Classic two-window island detection: lag() flags
    session starts, a running sum numbers them. Both windows share the
    same (key) partitioning and ordering, so Catalyst plans ONE
    Exchange + ONE Sort — per-key state never leaves its reducer, no
    driver-side anything, linear at any key cardinality. Hot keys are
    bounded by a single user's event volume (human-scale, not
    corpus-scale), so the per-key window is not a skew surface.
    """
    from pyspark.sql.window import Window

    order = [ts_col] + ([tiebreak_col] if tiebreak_col else [])
    w = Window.partitionBy(key).orderBy(*order)
    prev = F.lag(ts_col).over(w)
    new_sess = (
        prev.isNull()
        | (
            F.col(ts_col).cast("long") - prev.cast("long")
            > gap_minutes * 60
        )
    ).cast("int")
    return df.withColumn(
        "session_id",
        F.sum(new_sess).over(
            w.rowsBetween(Window.unboundedPreceding, 0)
        ).cast("int"),
    )
