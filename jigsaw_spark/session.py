"""SparkSession factory and table catalog.

The engine is designed for a multi-executor cluster (partition-aware
operators, broadcast hints for dimensions, AQE for runtime re-planning) but
tests run on local[N]. All sessions pin UTC so results compare bit-stable
against the DuckDB oracle (DuckDB timestamps are UTC-naive).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

# The driver-provided synthetic tables (TESTDATA.md). `documents` and
# `embeddings` back the LLM-pipeline operators; the TPC-H-ish star schema
# backs the relational surface.
TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# Small dimensions that should always broadcast in joins. At 100 TB the fact
# tables (orders/lineitem/events/documents/embeddings) shuffle on join keys;
# these stay broadcast-able (region=5, nation=25, supplier/part grow with SF
# but remain << fact size; Spark's autoBroadcastJoinThreshold handles the
# cutover, and AQE re-plans if a runtime size estimate disagrees).
BROADCAST_DIMS = frozenset({"region", "nation", "supplier", "part"})

DEFAULT_SF_DIR = "/root/testdata/sf0.1"

_PACKAGE_PARENT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def get_spark(app_name: str = "jigsaw_spark", cpus: int | None = None) -> SparkSession:
    """Build (or fetch) the engine SparkSession.

    Local-mode knobs follow the scale design:
      - shuffle.partitions ~ cores locally; on a real cluster this is
        superseded by AQE coalescing (enabled) so the setting is safe.
      - AQE on: runtime join-strategy switches + skew-join splitting, which
        is the scale path for skewed keys at 100 TB.
      - Arrow on: every pandas-UDF operator (multimodal, CV kernels) moves
        batches via Arrow instead of pickled rows.
      - Python workers get the package's parent directory on PYTHONPATH,
        so kernels that reference jigsaw_spark helpers import them from
        any working directory. Where that makes the package importable,
        their daemon is ``jigsaw_spark.daemon``: pyspark's own, except that
        a worker re-reads a zip on its path only when the zip changed.
    """
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or os.cpu_count() or 4
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(max(cpus, 8)))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.executorEnv.PYTHONPATH", _PACKAGE_PARENT)
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # runtime row-level filtering: build a bloom filter from the small
        # side of a shuffle join and push it into the big side's scan — at
        # 100 TB this skips row groups AQE's partition-level stats can't
        # NOTE: runtimeFilter.semiJoinReduction is deliberately NOT enabled:
        # on this Spark build (4.1.2, local mode) turning it on wedges
        # SparkSession.getOrCreate itself (py4j gateway spins, session never
        # comes up). Bloom-filter runtime filtering below gives the same
        # row-level scan skipping without that failure mode.
        .config("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
        # testdata events.parquet stores ts as TIMESTAMP(NANOS); Spark has no
        # nanos timestamp — read as long and convert in load_table.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    )
    if os.path.isfile(os.path.join(_PACKAGE_PARENT, "jigsaw_spark", "daemon.py")):
        builder = builder.config("spark.python.daemon.module", "jigsaw_spark.daemon")
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


# Parquet settings that change the schema a read infers; each is part of
# the schema cache's key.
_SCHEMA_CONFS = (
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
)
_schemas: dict[tuple, StructType] = {}


def _read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)`` without its schema-inference job on a
    warm path. A plain local file's inferred schema is cached under its
    absolute path, size, mtime and the settings in ``_SCHEMA_CONFS``, so a
    rewritten file is inferred again. Directories and remote paths are
    inferred every time."""
    path = os.path.abspath(path)
    if not os.path.isfile(path):
        return spark.read.parquet(path)
    st = os.stat(path)
    key = (path, st.st_size, st.st_mtime_ns, *(spark.conf.get(c, None) for c in _SCHEMA_CONFS))
    schema = _schemas.get(key)
    if schema is None:
        df = spark.read.parquet(path)
        _schemas[key] = df.schema
        return df
    return spark.read.schema(schema).parquet(path)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one synthetic table. Parquet scan → Catalyst gets pushdown,
    column pruning, and partition pruning for free.

    Nanosecond-precision timestamp columns (which Spark reads as long under
    ``nanosAsLong``) are converted to microsecond timestamps — a projection
    folded into the scan, not a materialization. The file's schema is
    inferred once per process and file version (:func:`_read_parquet`), so
    a warm read launches no Spark job."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import LongType, TimestampNTZType

    if name == "events":
        # Older Spark builds need this to read TIMESTAMP(NANOS) parquet at
        # all (as nanos-longs); Spark 4.1.2 ignores it and reads NTZ —
        # both shapes are normalized below. Runtime-settable, so it also
        # covers callers (e.g. the driver's own SparkSession) that didn't
        # go through get_spark().
        try:
            spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        except Exception:
            pass
        # The NTZ→timestamp normalization below re-labels the NTZ wall
        # clock in the SESSION time zone; a non-UTC caller session (one
        # that didn't come through get_spark()) would silently shift every
        # ts by its offset vs the oracle and the streaming reader. Pin it
        # here, runtime-settable like nanosAsLong above.
        try:
            spark.conf.set("spark.sql.session.timeZone", "UTC")
        except Exception:
            pass
    df = _read_parquet(spark, os.path.join(sf_dir, f"{name}.parquet"))
    if name == "events":
        dt = df.schema["ts"].dataType
        if isinstance(dt, LongType):
            # integer division: `/` on longs is a DOUBLE divide whose 53-bit
            # mantissa rounds epoch-nanos (~1.7e18) at ~0.25 µs granularity —
            # off-by-one-microsecond vs the oracle's exact ns→µs truncation
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        elif isinstance(dt, TimestampNTZType):
            # Spark 4.1.2 reads TIMESTAMP(NANOS) as µs-truncated NTZ; the
            # session is pinned UTC, so the cast re-labels the same wall
            # clock as an instant — bit-identical µs to the long path.
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def load_tables(spark: SparkSession, sf_dir: str = DEFAULT_SF_DIR) -> dict[str, DataFrame]:
    """Read every synthetic table present through :func:`load_table` and
    register it as a temp view, so both the DataFrame API and ``spark.sql``
    address the same frames the queries read."""
    out: dict[str, DataFrame] = {}
    for name in TABLES:
        if os.path.exists(os.path.join(sf_dir, f"{name}.parquet")):
            out[name] = load_table(spark, sf_dir, name)
            out[name].createOrReplaceTempView(name)
    return out


def widen(df: DataFrame, min_parts: int | None = None) -> DataFrame:
    """Give a CPU-heavy narrow pipeline enough partitions to use every core.

    File scans derive partition count from splittable bytes; the driver's
    single-row-group local parquet yields ONE partition, serializing any
    expensive projection chained on the scan (measured: the contamination
    query's shingle kernel ran 1-task, 36 s at sf0.1). At 100 TB the scan
    itself supplies width (thousands of files/row groups) and this is a
    no-op by the partition-count guard; locally it costs one cheap shuffle
    of raw rows before the expensive compute."""
    sc = df.sparkSession.sparkContext
    target = min_parts or sc.defaultParallelism
    if df.rdd.getNumPartitions() >= max(2, target // 2):
        return df
    return df.repartition(target)


def object_store_conf(
    endpoint: str | None = None,
    path_style: bool = True,
) -> dict[str, str]:
    """K7: the `s3a://` write recipe (reference parity: io_utils.py:388-431
    uploads exports to S3 as a separate boto3 stage; Spark-first there is
    no upload stage — sinks write `s3a://bucket/...` directly and the
    committer handles atomicity).

    Returns the conf dict to apply at session build (most keys are NOT
    runtime-settable). Credentials intentionally absent: the
    DefaultAWSCredentialsProviderChain (env/instance-profile/IRSA) is the
    production path; never bake keys into code.

    Key choices, and why they matter at 100 TB:
      - magic committer: task commits become S3 multipart completes — no
        rename (S3 has no rename; the classic FileOutputCommitter v1/v2
        'rename' is a copy) and no missing-dir races.
      - fast upload to heap buffers: writers stream multiparts while the
        task is still producing, bounding executor disk.
      - path-style + endpoint override: MinIO/on-prem object stores.
    """
    conf = {
        # committer: the S3A "magic" committer is the zero-rename path
        "spark.sql.sources.commitProtocolClass": (
            "org.apache.spark.internal.io.cloud.PathOutputCommitProtocol"
        ),
        "spark.sql.parquet.output.committer.class": (
            "org.apache.spark.internal.io.cloud.BindingParquetOutputCommitter"
        ),
        "spark.hadoop.fs.s3a.committer.name": "magic",
        "spark.hadoop.fs.s3a.committer.magic.enabled": "true",
        # upload pipeline
        "spark.hadoop.fs.s3a.fast.upload": "true",
        "spark.hadoop.fs.s3a.fast.upload.buffer": "bytebuffer",
        "spark.hadoop.fs.s3a.multipart.size": "128M",
        "spark.hadoop.fs.s3a.connection.maximum": "96",
        # keep directory markers: deleting them on every write turns deep
        # export trees into LIST/DELETE storms
        "spark.hadoop.fs.s3a.directory.marker.retention": "keep",
    }
    if endpoint:
        conf["spark.hadoop.fs.s3a.endpoint"] = endpoint
    if path_style:
        conf["spark.hadoop.fs.s3a.path.style.access"] = "true"
    return conf
