"""Data-layout queries (``layout_*``): Z-order and Hilbert keys, file
skipping, compaction and partitioning advice.

Curve keys are pure bit arithmetic from one shared SQL expression string.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from jigsaw_spark.functions.hashing import md5_int
from jigsaw_spark.plans.registry import _t, register


def _morton_sql(x: str, y: str, nbits: int = 16) -> str:
    """Bit-interleave SQL shared verbatim by Spark and DuckDB: even bits
    from ``x``, odd bits from ``y`` — one pure-integer expression, no
    engine-specific functions."""
    terms = []
    for i in range(nbits):
        terms.append(f"((({x} >> {i}) & 1) << {2 * i})")
        terms.append(f"((({y} >> {i}) & 1) << {2 * i + 1})")
    return "(" + " | ".join(terms) + ")"


@register(
    "layout_zorder",
    f"""
    WITH keys AS (
      SELECT o_orderkey,
             CAST(o_custkey % 65536 AS BIGINT) AS xk,
             CAST(CAST(round(o_totalprice * 100) AS BIGINT) % 65536 AS BIGINT)
               AS yk
      FROM orders),
    z AS (
      SELECT o_orderkey, {_morton_sql('xk', 'yk')} AS zkey FROM keys)
    SELECT CAST(zkey >> 22 AS BIGINT) AS file_bucket,
           count(*) AS n_rows,
           CAST(min(zkey) AS BIGINT) AS zmin,
           CAST(max(zkey) AS BIGINT) AS zmax
    FROM z GROUP BY 1
    """,
    "Z-order (Morton) clustering key over (custkey, price-cents): bit "
    "interleaving from ONE SQL expression string shared verbatim by "
    "both engines — the lakehouse layout technique that makes min/max "
    "file skipping prune on BOTH dimensions after a repartitionByRange "
    "on zkey. Emits the per-file-bucket row counts + zkey extents (the "
    "skipping index a writer would persist); pure integer bit math, "
    "map-only + one hash agg",
)
def layout_zorder(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders").select(
        "o_orderkey",
        (F.col("o_custkey") % 65536).cast("bigint").alias("xk"),
        (F.round(F.col("o_totalprice") * 100).cast("bigint") % 65536)
        .cast("bigint")
        .alias("yk"),
    )
    z = orders.select(
        "o_orderkey", F.expr(_morton_sql("xk", "yk")).alias("zkey")
    )
    return z.groupBy(
        F.shiftright("zkey", 22).cast("bigint").alias("file_bucket")
    ).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.min("zkey").cast("bigint").alias("zmin"),
        F.max("zkey").cast("bigint").alias("zmax"),
    )


# ---------------------------------------------------------------------------
# layout_hilbert
# ---------------------------------------------------------------------------

_HIL_P = 8  # 256 x 256 grid, 16-bit key

_HIL_N = 1 << _HIL_P


def _hilbert_stage_exprs(s: int, keep: str) -> list[str]:
    """One xy2d loop iteration (Wikipedia/Warren algorithm) as portable
    SQL column expressions evaluated against the PREVIOUS stage's
    (x, y, d). No ^ operator anywhere (DuckDB's ^ is POWER): the
    quadrant (3*rx) XOR ry collapses to the branchless arithmetic form
    CASE rx=0 -> ry, rx=1 -> 3-ry."""
    rx = f"(CASE WHEN (x & {s}) > 0 THEN 1 ELSE 0 END)"
    ry = f"(CASE WHEN (y & {s}) > 0 THEN 1 ELSE 0 END)"
    quadrant = f"(CASE WHEN {rx} = 1 THEN 3 - {ry} ELSE {ry} END)"
    new_x = (
        f"CASE WHEN {ry} = 0 THEN (CASE WHEN {rx} = 1"
        f" THEN {_HIL_N - 1} - y ELSE y END) ELSE x END AS x"
    )
    new_y = (
        f"CASE WHEN {ry} = 0 THEN (CASE WHEN {rx} = 1"
        f" THEN {_HIL_N - 1} - x ELSE x END) ELSE y END AS y"
    )
    new_d = f"d + {s * s} * {quadrant} AS d"
    return [keep, new_x, new_y, new_d]


def _hilbert_sql() -> str:
    head = f"""
    WITH h0 AS (
      SELECT o_orderkey,
             CAST(o_custkey % {_HIL_N} AS BIGINT) AS x,
             CAST(CAST(round(o_totalprice * 100) AS BIGINT) % {_HIL_N}
                  AS BIGINT) AS y,
             CAST(o_custkey % {_HIL_N} AS BIGINT) AS x0,
             CAST(CAST(round(o_totalprice * 100) AS BIGINT) % {_HIL_N}
                  AS BIGINT) AS y0,
             CAST(0 AS BIGINT) AS d
      FROM orders)"""
    stages = []
    i = 0
    s = _HIL_N // 2
    while s > 0:
        i += 1
        exprs = _hilbert_stage_exprs(s, "o_orderkey")
        stages.append(
            f",\n    h{i} AS (SELECT {exprs[0]}, x0, y0, "
            f"{exprs[1]}, {exprs[2]}, {exprs[3]} FROM h{i - 1})"
        )
        s //= 2
    return (
        head
        + "".join(stages)
        + f"""
    SELECT CAST(d >> 9 AS BIGINT) AS file_bucket,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(min(d) AS BIGINT) AS hmin,
           CAST(max(d) AS BIGINT) AS hmax,
           CAST(max(x0) - min(x0) AS BIGINT) AS x_span,
           CAST(max(y0) - min(y0) AS BIGINT) AS y_span
    FROM h{i} GROUP BY 1"""
    )


@register(
    "layout_hilbert",
    _hilbert_sql(),
    "Hilbert-curve clustering key over (custkey, price-cents) — the "
    "locality-preserving layout behind Databricks liquid clustering; "
    "vs Morton (layout_zorder), consecutive key ranges form compact "
    "squares with no Z-shape diagonal jumps, so per-file min/max boxes "
    "on BOTH raw dimensions shrink. The xy2d bit walk (8 rotate/"
    "reflect stages, pure integer CASE arithmetic — portable: no ^, "
    "which DuckDB parses as POWER) is generated ONCE and shared "
    "verbatim: Spark replays it as 8 chained selectExpr stages "
    "(map-only, whole-stage codegen), the oracle as 8 chained CTEs. "
    "Emits the per-file-bucket skipping manifest (row count, key "
    "extents, and the raw-dimension spans that prove locality)",
)
def layout_hilbert(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    df = orders.selectExpr(
        "o_orderkey",
        f"CAST(o_custkey % {_HIL_N} AS BIGINT) AS x",
        f"CAST(CAST(round(o_totalprice * 100) AS BIGINT) % {_HIL_N}"
        " AS BIGINT) AS y",
        f"CAST(o_custkey % {_HIL_N} AS BIGINT) AS x0",
        f"CAST(CAST(round(o_totalprice * 100) AS BIGINT) % {_HIL_N}"
        " AS BIGINT) AS y0",
        "CAST(0 AS BIGINT) AS d",
    )
    s = _HIL_N // 2
    while s > 0:
        exprs = _hilbert_stage_exprs(s, "o_orderkey")
        df = df.selectExpr(exprs[0], "x0", "y0", *exprs[1:])
        s //= 2
    return df.groupBy(
        F.expr("CAST(d >> 9 AS BIGINT)").alias("file_bucket")
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.min("d").cast("bigint").alias("hmin"),
        F.max("d").cast("bigint").alias("hmax"),
        (F.max("x0") - F.min("x0")).cast("bigint").alias("x_span"),
        (F.max("y0") - F.min("y0")).cast("bigint").alias("y_span"),
    )


# ---------------------------------------------------------------------------
# layout_manifest_prune
# ---------------------------------------------------------------------------

_LMP_SQL = """
    WITH keyed AS (
      SELECT o_orderkey, o_custkey,
             CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
             ('0x' || substr(md5('file|' || CAST(o_orderkey AS VARCHAR)),
                             1, 12))::UBIGINT % 64 AS file_id
      FROM orders),
    manifest AS MATERIALIZED (
      SELECT file_id, count(*) AS n_rows,
             min(o_custkey) AS ck_min, max(o_custkey) AS ck_max,
             min(cents) AS c_min, max(cents) AS c_max
      FROM keyed GROUP BY file_id),
    zkeyed AS (
      SELECT o_orderkey, o_custkey, cents,
             CAST(o_custkey % 256 AS BIGINT) * 256
               + CAST(cents % 256 AS BIGINT) AS zf,
             o_custkey // 200 AS file_id
      FROM keyed),
    zmanifest AS MATERIALIZED (
      SELECT file_id, count(*) AS n_rows,
             min(o_custkey) AS ck_min, max(o_custkey) AS ck_max,
             min(cents) AS c_min, max(cents) AS c_max
      FROM zkeyed GROUP BY file_id),
    preds AS (
      SELECT * FROM (VALUES
        ('custkey_100_300', 100, 300, NULL, NULL),
        ('price_50k_60k', NULL, NULL, 5000000, 6000000),
        ('both', 100, 300, 5000000, 6000000))
        p(pred, ck_lo, ck_hi, c_lo, c_hi)),
    eval_ AS (
      SELECT p.pred, lay.layout, lay.file_id, lay.n_rows,
             CASE WHEN (p.ck_lo IS NULL
                        OR (lay.ck_max >= p.ck_lo AND lay.ck_min <= p.ck_hi))
                   AND (p.c_lo IS NULL
                        OR (lay.c_max >= p.c_lo AND lay.c_min <= p.c_hi))
                  THEN 1 ELSE 0 END AS scanned
      FROM preds p CROSS JOIN (
        SELECT 'hash' AS layout, * FROM manifest
        UNION ALL
        SELECT 'clustered' AS layout, * FROM zmanifest) lay)
    SELECT pred, layout,
           CAST(count(*) AS BIGINT) AS n_files,
           CAST(sum(scanned) AS BIGINT) AS files_scanned,
           CAST(sum(CASE WHEN scanned = 1 THEN n_rows ELSE 0 END) AS BIGINT)
             AS rows_scanned
    FROM eval_ GROUP BY pred, layout
"""


@register(
    "layout_manifest_prune",
    _LMP_SQL,
    "file-skipping simulation — WHY the layout queries exist: the same "
    "orders land in 64 files twice (random md5 placement vs custkey-"
    "clustered placement), a per-file min/max manifest is computed for "
    "each, and three predicates are evaluated against the manifests "
    "alone. The clustered layout prunes most files on its cluster "
    "key while random placement scans everything — the Iceberg/Delta "
    "manifest arithmetic as an auditable query. All exact integers; "
    "manifests are |files|-row dims",
)
def layout_manifest_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    cents = F.round(F.col("o_totalprice") * 100).cast("bigint")
    keyed = orders.select(
        "o_orderkey",
        "o_custkey",
        cents.alias("cents"),
        F.pmod(
            md5_int(
                F.md5(
                    F.concat(
                        F.lit("file|"), F.col("o_orderkey").cast("string")
                    )
                ),
                12,
            ),
            F.lit(64),
        ).alias("file_id"),
    )

    def manifest(df):
        return df.groupBy("file_id").agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.min("o_custkey").alias("ck_min"),
            F.max("o_custkey").alias("ck_max"),
            F.min("cents").alias("c_min"),
            F.max("cents").alias("c_max"),
        )

    m_hash = manifest(keyed).withColumn("layout", F.lit("hash"))
    m_clus = manifest(
        keyed.withColumn("file_id", F.expr("o_custkey div 200"))
    ).withColumn("layout", F.lit("clustered"))
    lay = m_hash.unionByName(m_clus)
    preds = keyed.sparkSession.createDataFrame(
        [
            ("custkey_100_300", 100, 300, None, None),
            ("price_50k_60k", None, None, 5000000, 6000000),
            ("both", 100, 300, 5000000, 6000000),
        ],
        "pred string, ck_lo bigint, ck_hi bigint, c_lo bigint, c_hi bigint",
    )
    scanned = F.when(
        (
            F.col("ck_lo").isNull()
            | ((F.col("ck_max") >= F.col("ck_lo")) & (F.col("ck_min") <= F.col("ck_hi")))
        )
        & (
            F.col("c_lo").isNull()
            | ((F.col("c_max") >= F.col("c_lo")) & (F.col("c_min") <= F.col("c_hi")))
        ),
        1,
    ).otherwise(0)
    ev = preds.crossJoin(F.broadcast(lay)).withColumn("scanned", scanned)
    return ev.groupBy("pred", "layout").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_files"),
        F.sum("scanned").cast("bigint").alias("files_scanned"),
        F.sum(F.when(F.col("scanned") == 1, F.col("n_rows")).otherwise(0))
        .cast("bigint")
        .alias("rows_scanned"),
    )


# ---------------------------------------------------------------------------
# layout_compaction_bins
# ---------------------------------------------------------------------------

_COMPACT_TARGET = 409600  # simulated bytes per compaction group

_COMPACT_SQL = f"""
    WITH files AS (
      SELECT o_orderpriority AS part,
             ('0x' || substr(md5('cfile|' || CAST(o_orderkey AS VARCHAR)),
                             1, 12))::UBIGINT % 128 AS file_id,
             count(*) * 100 AS bytes
      FROM orders GROUP BY 1, 2),
    packed AS (
      SELECT part, file_id, bytes,
             (sum(bytes) OVER (PARTITION BY part ORDER BY file_id
                               ROWS UNBOUNDED PRECEDING) - bytes)
               // {_COMPACT_TARGET} AS bin_id
      FROM files)
    SELECT part, CAST(bin_id AS BIGINT) AS bin_id,
           CAST(count(*) AS BIGINT) AS n_files,
           CAST(sum(bytes) AS BIGINT) AS bytes,
           CAST(min(file_id) AS BIGINT) AS first_file,
           CAST(max(file_id) AS BIGINT) AS last_file
    FROM packed GROUP BY part, bin_id
"""


@register(
    "layout_compaction_bins",
    _COMPACT_SQL,
    "small-file compaction plan — the Delta/Iceberg OPTIMIZE "
    "bin-packing step as an auditable query: per table partition "
    "(order priority), the simulated file manifest (128 hash files "
    "with byte sizes) is packed sequentially into target-size "
    "compaction groups via bin = floor(prefix_bytes / target) from "
    "ONE partitioned cumulative-sum window; the output is the rewrite "
    "manifest (files, bytes, id span per group). All integer; the "
    "manifest is a |files|-row dim so every step after the one "
    "per-file agg is dim-sized",
)
def layout_compaction_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    files = orders.groupBy(
        F.col("o_orderpriority").alias("part"),
        F.pmod(
            md5_int(
                F.md5(
                    F.concat(
                        F.lit("cfile|"), F.col("o_orderkey").cast("string")
                    )
                ),
                12,
            ),
            F.lit(128),
        ).alias("file_id"),
    ).agg((F.count(F.lit(1)) * 100).alias("bytes"))
    packed = files.select(
        "part",
        "file_id",
        "bytes",
        F.expr(
            f"CAST((sum(bytes) OVER (PARTITION BY part ORDER BY file_id"
            f" ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - bytes)"
            f" div {_COMPACT_TARGET} AS BIGINT)"
        ).alias("bin_id"),
    )
    return packed.groupBy("part", "bin_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_files"),
        F.sum("bytes").cast("bigint").alias("bytes"),
        F.min("file_id").cast("bigint").alias("first_file"),
        F.max("file_id").cast("bigint").alias("last_file"),
    )


# ---------------------------------------------------------------------------
# layout_skipping_report
# ---------------------------------------------------------------------------

def _skipping_sql() -> str:
    # dims normalize to the full 16-bit Morton domain by their observed
    # maxima (data-dependent but deterministic): without this, a small
    # custkey domain leaves the x bit-planes all-zero and the interleave
    # degenerates to a price sort. Predicate = the [0.4, 0.5) band of
    # the custkey domain, same fixed fractions at every sf.
    return f"""
    WITH mx AS (
      SELECT max(o_custkey) AS mck,
             max(CAST(round(o_totalprice * 100) AS BIGINT)) AS mc
      FROM orders),
    keys AS (
      SELECT o_orderkey, o_custkey,
             o_custkey * 65535 // mx.mck AS xk,
             CAST(round(o_totalprice * 100) AS BIGINT) * 65535 // mx.mc AS yk
      FROM orders, mx),
    z AS (
      SELECT o_orderkey, o_custkey,
             {_morton_sql('xk', 'yk')} AS zkey
      FROM keys),
    blocks AS (
      SELECT 'zorder' AS layout, zkey >> 27 AS block,
             min(o_custkey) AS lo, max(o_custkey) AS hi, count(*) AS n_rows
      FROM z GROUP BY 2
      UNION ALL
      SELECT 'id_order' AS layout,
             k.o_orderkey * 32 // (SELECT max(o_orderkey) + 1 FROM orders)
               AS block,
             min(k.o_custkey) AS lo, max(k.o_custkey) AS hi,
             count(*) AS n_rows
      FROM keys k GROUP BY 2),
    pred AS (
      SELECT 2 * mck // 5 AS plo, mck // 2 AS phi FROM mx)
    SELECT layout,
           CAST(count(*) AS BIGINT) AS n_blocks,
           CAST(sum(CASE WHEN hi < plo OR lo >= phi THEN 1 ELSE 0 END)
                AS BIGINT) AS n_skippable,
           CAST(sum(CASE WHEN hi < plo OR lo >= phi THEN n_rows ELSE 0 END)
                AS BIGINT) AS rows_skipped,
           CAST(sum(CASE WHEN hi < plo OR lo >= phi THEN 1 ELSE 0 END)
                * 1000000 // count(*) AS BIGINT) AS skip_ratio_micro
    FROM blocks, pred GROUP BY layout
"""


@register(
    "layout_skipping_report",
    _skipping_sql(),
    "zone-map skipping report: for the custkey band predicate "
    "[0.4, 0.5) of the key domain, how many min/max blocks a reader "
    "skips under the Z-ordered layout (32 blocks = top 5 interleaved "
    "bits) vs the insertion (id-ordered) layout (32 equal id ranges) — "
    "the measurement that justifies paying the z-order write cost "
    "(data-skipping indexes in Delta/Iceberg read exactly these "
    "per-file extents). Dims normalize to the 16-bit Morton domain by "
    "their maxima so the interleave is meaningful at any sf; "
    "skippability is pure integer interval logic, ONE hash agg per "
    "layout to the 32-block dim",
)
def layout_skipping_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    mx = orders.agg(
        F.max("o_custkey").alias("mck"),
        F.max(F.round(F.col("o_totalprice") * 100).cast("bigint")).alias(
            "mc"
        ),
        F.max("o_orderkey").alias("mok"),
    ).collect()[0]
    mck, mc, mok = int(mx["mck"]), int(mx["mc"]), int(mx["mok"])
    keys = orders.select(
        "o_orderkey",
        "o_custkey",
        F.expr(f"o_custkey * 65535 div {mck}").alias("xk"),
        F.expr(
            f"CAST(round(o_totalprice * 100) AS BIGINT) * 65535 div {mc}"
        ).alias("yk"),
    )
    zb = (
        keys.select(
            "o_custkey",
            F.shiftright(F.expr(_morton_sql("xk", "yk")), 27).alias("block"),
        )
        .groupBy("block")
        .agg(
            F.min("o_custkey").alias("lo"),
            F.max("o_custkey").alias("hi"),
            F.count(F.lit(1)).alias("n_rows"),
        )
        .select(F.lit("zorder").alias("layout"), "lo", "hi", "n_rows")
    )
    ib = (
        keys.select(
            F.expr(f"o_orderkey * 32 div {mok + 1}").alias("block"),
            "o_custkey",
        )
        .groupBy("block")
        .agg(
            F.min("o_custkey").alias("lo"),
            F.max("o_custkey").alias("hi"),
            F.count(F.lit(1)).alias("n_rows"),
        )
        .select(F.lit("id_order").alias("layout"), "lo", "hi", "n_rows")
    )
    blocks = zb.unionByName(ib)
    plo, phi = 2 * mck // 5, mck // 2
    skippable = F.when(
        (F.col("hi") < plo) | (F.col("lo") >= phi), 1
    ).otherwise(0)
    return blocks.groupBy("layout").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_blocks"),
        F.sum(skippable).cast("bigint").alias("n_skippable"),
        F.sum(F.when(skippable == 1, F.col("n_rows")).otherwise(0))
        .cast("bigint")
        .alias("rows_skipped"),
        F.expr(
            f"CAST(sum(CASE WHEN hi < {plo} OR lo >= {phi} "
            "THEN 1 ELSE 0 END) * 1000000 div count(*) AS BIGINT)"
        ).alias("skip_ratio_micro"),
    )


# ---------------------------------------------------------------------------
# layout_partition_advisor
# ---------------------------------------------------------------------------

_ADVISOR_CANDS = (
    ("l_returnflag", "l_returnflag"),
    ("l_linestatus", "l_linestatus"),
    (
        "ship_month",
        "CAST(year(l_shipdate) * 100 + month(l_shipdate) AS STRING)",
    ),
    ("l_suppkey", "CAST(l_suppkey AS STRING)"),
)


def _partition_advisor_sql() -> str:
    sels = " UNION ALL ".join(
        f"SELECT '{name}' AS candidate, {expr} AS pval FROM lineitem"
        for name, expr in _ADVISOR_CANDS
    )
    return f"""
    WITH stacked AS ({sels}),
    parts AS MATERIALIZED (
      SELECT candidate, pval, CAST(count(*) AS BIGINT) AS n_rows
      FROM stacked GROUP BY 1, 2),
    tot AS MATERIALIZED (
      SELECT candidate,
             CAST(count(*) AS BIGINT) AS n_partitions,
             CAST(sum(n_rows) AS BIGINT) AS total_rows,
             CAST(max(n_rows) AS BIGINT) AS max_part_rows
      FROM parts GROUP BY 1)
    SELECT t.candidate,
           t.n_partitions,
           t.total_rows AS n_rows,
           t.max_part_rows,
           CAST(t.max_part_rows * t.n_partitions * 1000
             // t.total_rows AS BIGINT) AS skew_milli,
           CAST(sum(CASE WHEN p.n_rows * t.n_partitions * 2
             < t.total_rows THEN 1 ELSE 0 END) AS BIGINT)
             AS small_parts
    FROM parts p JOIN tot t ON p.candidate = t.candidate
    GROUP BY t.candidate, t.n_partitions, t.total_rows,
             t.max_part_rows
"""


@register(
    "layout_partition_advisor",
    _partition_advisor_sql(),
    "write-time PARTITION BY advisor: for candidate lineitem "
    "partition columns (returnflag, linestatus, ship month, suppkey) "
    "— partition count, max-partition rows, skew vs the ideal even "
    "split (milli; 1000 = perfectly balanced), and undersized "
    "partitions (< half the mean — the small-file problem). Reads as "
    "a decision table: 2-3 partitions under-parallelize, suppkey "
    "explodes the file count, ship month is the bounded low-skew "
    "middle — the layout_compaction_bins question asked BEFORE the "
    "write instead of after. Shape: one stacked scan (4 candidate "
    "projections of the same rows), per-candidate hash-aggs over "
    "bounded partition-value dims; window-free",
)
def layout_partition_advisor(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    pairs = ", ".join(
        f"'{name}', {expr}" for name, expr in _ADVISOR_CANDS
    )
    stacked = li.select(
        F.expr(
            f"stack({len(_ADVISOR_CANDS)}, {pairs})"
        ).alias("candidate", "pval")
    )
    parts = stacked.groupBy("candidate", "pval").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows")
    ).localCheckpoint()
    tot = parts.groupBy("candidate").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_partitions"),
        F.sum("n_rows").cast("bigint").alias("total_rows"),
        F.max("n_rows").cast("bigint").alias("max_part_rows"),
    )
    return (
        parts.join(F.broadcast(tot), "candidate")
        .groupBy(
            "candidate", "n_partitions", "total_rows", "max_part_rows"
        )
        .agg(
            F.sum(
                F.when(
                    F.col("n_rows") * F.col("n_partitions") * 2
                    < F.col("total_rows"),
                    1,
                ).otherwise(0)
            )
            .cast("bigint")
            .alias("small_parts")
        )
        .select(
            "candidate",
            "n_partitions",
            F.col("total_rows").alias("n_rows"),
            "max_part_rows",
            F.expr(
                "CAST(max_part_rows * n_partitions * 1000"
                " div total_rows AS BIGINT)"
            ).alias("skew_milli"),
            "small_parts",
        )
    )
