"""Streaming queries (``stream_*``) drained with Trigger.AvailableNow.

A streaming plan drained over a static directory produces exactly the batch
answer, so it gets a full DuckDB oracle; 1-hour tumbling windows are
epoch-aligned, i.e. window_start == date_trunc('hour', ts). State stays
bounded by watermarks or by a static side (a holdout, a frozen card), and
frozen bounds ride the plan as literals, never as a stream-side aggregate.
"""

from __future__ import annotations

import contextlib
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from jigsaw_spark.operators.text import tokens_sql
from jigsaw_spark.plans.curation import _DSIR_B
from jigsaw_spark.plans.dedup import _SHINGLES_CTE, _TOKS_CTE, _bands_cte, _minhash_cte
from jigsaw_spark.plans.dq import _holdout_col
from jigsaw_spark.plans.mm import _PHASH_BYTES_CTE, _phash_images, _synth_images
from jigsaw_spark.plans.registry import _t, dec2, dsum, register
from jigsaw_spark.streaming.ingest import read_event_stream, windowed_event_counts


# A streaming query's state-store partition count is frozen from
# spark.sql.shuffle.partitions at FIRST start with a fresh checkpoint —
# size it to expected state volume, not to the batch shuffle width. These
# drains hold tiny bounded state (distinct event ids / open sessions over
# testdata), so 8 partitions beats the session default 32: every extra
# state partition is an extra state-store instance per micro-batch. At
# production state volumes, raise it BEFORE the first run; it cannot be
# changed without a new checkpoint.
STREAM_STATE_PARTITIONS = 8


@contextlib.contextmanager
def _state_partitions(spark: SparkSession, n: int = STREAM_STATE_PARTITIONS):
    key = "spark.sql.shuffle.partitions"
    prev = spark.conf.get(key)
    spark.conf.set(key, str(n))
    try:
        yield
    finally:
        spark.conf.set(key, prev)


def _drain(df: DataFrame, mode: str = "complete") -> DataFrame:
    """Run the streaming frame ``df`` to completion (AvailableNow) into a
    fresh memory table under ``_state_partitions``, and return the table."""
    spark = df.sparkSession
    name = f"drain_{uuid.uuid4().hex[:8]}"
    with _state_partitions(spark):
        q = (
            df.writeStream.outputMode(mode)
            .format("memory")
            .queryName(name)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    return spark.table(name)


def _detach_and_clean(df: DataFrame, *dirs: str) -> DataFrame:
    """Eagerly materialize a drain's read-back (localCheckpoint detaches
    the lineage from the on-disk files), then delete the run's temp
    output/checkpoint dirs. Without this every bench/gate run leaves
    mkdtemp droppings behind (r6 verdict #6); checkpoints only need to
    outlive their own drain here because each run starts fresh."""
    import shutil

    out = df.localCheckpoint(eager=True)
    for d in dirs:
        shutil.rmtree(d, ignore_errors=True)
    return out


@register(
    "stream_stateful_sessions",
    """
    WITH o AS (
      SELECT user_id, ts,
             CASE WHEN lag(ts) OVER w IS NULL
                    OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
                  THEN 1 ELSE 0 END AS new_s
      FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)
    )
    SELECT user_id, count(*) AS n_events,
           CAST(sum(new_s) AS BIGINT) AS n_sessions
    FROM o GROUP BY user_id
    """,
    "applyInPandasWithState per-user session state drained with "
    "AvailableNow — full-history drain equals the batch island answer",
)
def stream_stateful_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    import tempfile

    from pyspark.sql import functions as F

    from jigsaw_spark.streaming.stateful import run_stateful_sessions

    checkpoint = tempfile.mkdtemp(prefix="jigsaw_stateful_ckpt_")
    with _state_partitions(spark):
        _name, updates = run_stateful_sessions(
            spark, sf_dir, checkpoint, glob="events.parquet"
        )
    updates = _detach_and_clean(updates, checkpoint)
    # update-mode sink may hold one row per user per micro-batch; totals are
    # cumulative, so the latest = max
    return updates.groupBy("user_id").agg(
        F.max("n_events").alias("n_events"),
        F.max("n_sessions").alias("n_sessions"),
    )


@register(
    "stream_dedup_counts",
    """
    SELECT event_type, count(*) AS n
    FROM (SELECT DISTINCT ON (event_id) event_id, event_type
          FROM events ORDER BY event_id, ts)
    GROUP BY event_type
    """,
    "streaming exact dedup: dropDuplicatesWithinWatermark on event_id "
    "(state bounded by the watermark horizon) drained with AvailableNow, "
    "then counted per type — equals the batch distinct-key answer",
)
def stream_dedup_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    from jigsaw_spark.streaming.ingest import stream_dedup

    stream = read_event_stream(spark, sf_dir, glob="events.parquet")
    deduped = stream_dedup(stream, ["event_id"], watermark="2 hours")
    agg = deduped.groupBy("event_type").agg(F.count(F.lit(1)).alias("n"))
    return _drain(agg)


@register(
    "stream_hourly_rollup",
    """
    SELECT date_trunc('hour', ts) AS window_start, event_type,
           count(*) AS n,
           CAST(round(sum(CAST(value AS DECIMAL(18,2))), 2) AS DOUBLE) AS total_value
    FROM events
    GROUP BY 1, 2
    """,
    "Structured Streaming tumbling-window agg (AvailableNow drain == batch)",
)
def stream_hourly_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    stream = read_event_stream(spark, sf_dir, glob="events.parquet")
    agg = windowed_event_counts(stream, "1 hour")
    return _drain(agg)


@register(
    "stream_stream_join",
    """
    SELECT v.user_id, count(*) AS n_pairs
    FROM events v
    JOIN events c
      ON v.user_id = c.user_id
     AND c.ts >= v.ts AND c.ts <= v.ts + INTERVAL 10 MINUTE
    WHERE v.event_type = 'view' AND c.event_type = 'click'
    GROUP BY v.user_id
    """,
    "stream-stream interval join: view-stream ⋈ click-stream on user_id "
    "within a 10-minute event-time band, both sides watermarked so join "
    "state is evicted once the watermark passes the band (the 100 TB/day "
    "requirement: state is bounded by watermark × arrival rate, not by "
    "stream history). AvailableNow drain over a static dir == batch "
    "interval join, which is the oracle.",
)
def stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    views = (
        read_event_stream(spark, sf_dir, glob="events.parquet")
        .filter(F.col("event_type") == "view")
        .withWatermark("ts", "1 hour")
        .select(F.col("user_id").alias("v_user"), F.col("ts").alias("v_ts"))
    )
    clicks = (
        read_event_stream(spark, sf_dir, glob="events.parquet")
        .filter(F.col("event_type") == "click")
        .withWatermark("ts", "1 hour")
        .select(F.col("user_id").alias("c_user"), F.col("ts").alias("c_ts"))
    )
    joined = views.join(
        clicks,
        F.expr(
            "v_user = c_user AND c_ts >= v_ts"
            " AND c_ts <= v_ts + interval 10 minutes"
        ),
    )
    from pyspark.sql import functions as F2

    return (
        _drain(joined, "append")
        .groupBy(F2.col("v_user").alias("user_id"))
        .agg(F2.count(F2.lit(1)).alias("n_pairs"))
    )


@register(
    "stream_synth_rollup",
    None,  # rows are generated by the Python streaming DataSource, not a
    # driver table — determinism is pinned by
    # tests/test_r4_ops.py::test_synthetic_stream_datasource_deterministic
    "Spark 4 Python streaming DataSource drain: 200 offset-derived "
    "deterministic events -> AvailableNow -> per-type rollup (counts + "
    "integer-cent sums); replays identically from any checkpoint",
)
def stream_synth_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    import tempfile

    from pyspark.sql import functions as F

    from jigsaw_spark.sources.synthetic_stream import register_synthetic_stream

    register_synthetic_stream(spark)
    out = tempfile.mkdtemp(prefix="jigsaw_synth_out_")
    ckpt = tempfile.mkdtemp(prefix="jigsaw_synth_ckpt_")
    with _state_partitions(spark):
        q = (
            spark.readStream.format("synthetic_events")
            .option("rows_per_batch", 200)
            .load()
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    synth = _detach_and_clean(spark.read.parquet(out), out, ckpt)
    return synth.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(
            F.round(F.col("value") * 100, 0).cast("bigint")
        ).alias("total_cents"),
    )


_CK_MOD_STREAM = 2_305_843_009_213_693_952  # 2^61, matches dq_table_checksum


@register(
    "stream_table_checksum",
    f"""
    SELECT 'events' AS tbl,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(('0x' || substr(md5('e|' || CAST(event_id AS VARCHAR)),
                                    1, 12))::UBIGINT)
                % {_CK_MOD_STREAM} AS BIGINT) AS key_checksum
    FROM events
    """,
    "INCREMENTAL table fingerprint maintenance — the streaming twin of "
    "dq_table_checksum, possible only because the checksum is an "
    "ALGEBRAIC aggregate (count + decimal sum of md5-int48 key hashes: "
    "commutative, mergeable): each arriving file contributes partial "
    "sums into the running complete-mode state, so the fingerprint of "
    "an ever-growing table stays current without ever rescanning it — "
    "the CDC-era answer to 'is the replica still identical?'. The mod "
    "reduction applies once at read-out (mod of a sum == mod of the "
    "running decimal state). Drained with AvailableNow, equals the "
    "batch checksum exactly",
)
def stream_table_checksum(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    stream = read_event_stream(spark, sf_dir, glob="events.parquet")
    partial = stream.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(
            F.expr(
                "CAST(conv(substring(md5('e|' || CAST(event_id AS STRING)),"
                " 1, 12), 16, 10) AS DECIMAL(38,0))"
            )
        ).alias("running_sum"),
    )
    return _drain(partial).select(
        F.lit("events").alias("tbl"),
        F.col("n_rows").cast("bigint").alias("n_rows"),
        F.expr(f"CAST(running_sum % {_CK_MOD_STREAM} AS BIGINT)").alias(
            "key_checksum"
        ),
    )


# event_type → reporting category: the enrichment dimension a streaming
# pipeline would broadcast (KB-scale even at production cardinalities).
_EVENT_DIM = (
    ("view", "engagement"),
    ("click", "engagement"),
    ("purchase", "conversion"),
    ("signup", "conversion"),
    ("error", "ops"),
)

_DIM_CASE = (
    "CASE event_type "
    + " ".join(f"WHEN '{k}' THEN '{v}'" for k, v in _EVENT_DIM)
    + " END"
)


@register(
    "stream_static_join",
    f"""
    SELECT date_trunc('hour', ts) AS window_start,
           {_DIM_CASE} AS category,
           count(*) AS n,
           CAST(round(sum(CAST(value AS DECIMAL(18,2))), 2) AS DOUBLE)
             AS total_value
    FROM events
    GROUP BY 1, 2
    """,
    "stream-static enrichment: broadcast dimension join inside the stream "
    "(zero join state — each micro-batch joins the static snapshot) → "
    "watermarked 1-hour tumbling rollup per category; AvailableNow drain "
    "== the batch answer",
)
def stream_static_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from jigsaw_spark.streaming.ingest import (
        enriched_event_counts,
        read_event_stream,
    )

    dim = spark.createDataFrame(list(_EVENT_DIM), "event_type string, category string")
    stream = read_event_stream(spark, sf_dir, glob="events.parquet")
    agg = enriched_event_counts(stream, dim)
    return _drain(agg)


@register(
    "stream_lsh_dedup",
    f"""
    WITH {_TOKS_CTE}, {_SHINGLES_CTE},
    {_minhash_cte()},
    {_bands_cte(materialized=True)},
    idx AS (
      SELECT DISTINCT band, sig FROM bands WHERE doc_id % 2 = 0),
    hits AS (
      SELECT b.doc_id, count(*) AS n_hit_bands
      FROM bands b JOIN idx USING (band, sig)
      WHERE b.doc_id % 2 = 1
      GROUP BY b.doc_id)
    SELECT d.source,
           count(*) AS n_streamed,
           CAST(sum(CASE WHEN h.doc_id IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_blocked,
           CAST(sum(CASE WHEN h.doc_id IS NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_admitted
    FROM documents d LEFT JOIN hits h ON d.doc_id = h.doc_id
    WHERE d.doc_id % 2 = 1
    GROUP BY d.source
    """,
    "streaming near-dup ADMISSION: new documents arrive as a file-source "
    "stream, MinHash band signatures run in the SAME map-only Arrow "
    "kernel as the batch path (minhash_band_sigs on a streaming frame), "
    "and a stream-static semi-join probes the historical bucket index "
    "(built from the even-doc 'corpus so far', broadcast at this size) — "
    "near-dups are flagged BEFORE ingest, per-batch, with no stream-side "
    "state beyond the drain agg. The admission ledger per source is "
    "assembled batch-side from the drained hit table",
)
def stream_lsh_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from jigsaw_spark.operators.dedup import minhash_band_sigs
    from jigsaw_spark.streaming.ingest import read_document_stream

    docs = _t(spark, sf_dir, "documents")
    # materialized BEFORE the stream starts: the historical index (a
    # Python minhash kernel pass over half the corpus) would otherwise
    # execute inside the drain under the streaming confs (AQE off,
    # state-sized shuffle partitions) and be re-planned per micro-batch
    index = (
        minhash_band_sigs(docs.filter(F.col("doc_id") % 2 == 0), "doc_id")
        .select("band", "sig")
        .distinct()
        .localCheckpoint()
    )
    stream = read_document_stream(spark, sf_dir).filter(
        F.col("doc_id") % 2 == 1
    )
    hits = (
        minhash_band_sigs(stream, "doc_id")
        .join(index, ["band", "sig"], "left_semi")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_hit_bands"))
    )
    blocked = _drain(hits)
    new_docs = docs.filter(F.col("doc_id") % 2 == 1).select(
        "doc_id", "source"
    )
    return (
        new_docs.join(blocked, "doc_id", "left_outer")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_streamed"),
            F.sum(F.col("n_hit_bands").isNotNull().cast("int"))
            .cast("bigint")
            .alias("n_blocked"),
            F.sum(F.col("n_hit_bands").isNull().cast("int"))
            .cast("bigint")
            .alias("n_admitted"),
        )
    )


@register(
    "stream_session_window",
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
           count(*) AS n,
           CAST(round(sum(CAST(value AS DECIMAL(18,2))), 2) AS DOUBLE)
             AS total_value
    FROM g GROUP BY user_id, sid
    """,
    "STREAMING native session_window: the state-store session-merge path "
    "(distinct from both the batch session_window agg [w4] and the "
    "applyInPandasWithState sessionizer) — sessions merge incrementally "
    "in the streaming state store, complete-mode AvailableNow drain "
    "equals the batch island formulation. Exact decimal value sums, "
    "same 30-min gap as every session operator in the engine",
)
def stream_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    from jigsaw_spark.streaming.ingest import read_event_stream

    stream = read_event_stream(spark, sf_dir, glob="events.parquet")
    agg = (
        stream.groupBy(
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
    return _drain(agg)


@register(
    "stream_dsir_score",
    f"""
    WITH toks AS (
      SELECT doc_id, CAST(lang = 'en' AS INT) AS is_target,
             {tokens_sql('text')} AS t
      FROM documents WHERE doc_id % 2 = 0),
    grams AS (
      SELECT doc_id, is_target, unnest(t) AS gram FROM toks
      UNION ALL
      SELECT doc_id, is_target, t[i] || ' ' || t[i+1] AS gram
      FROM toks, LATERAL (
        SELECT unnest(range(1, len(t))) AS i) ii
      WHERE len(t) >= 2),
    bucketed AS (
      SELECT doc_id, is_target,
             ('0x' || substr(md5(gram), 1, 12))::UBIGINT % {_DSIR_B} AS bucket
      FROM grams),
    dist AS (
      SELECT bucket,
             sum(CASE WHEN is_target = 1 THEN 1 ELSE 0 END) AS tgt,
             count(*) AS raw
      FROM bucketed GROUP BY bucket),
    tot AS (SELECT sum(tgt) AS T, sum(raw) AS R FROM dist),
    ratio AS MATERIALIZED (
      SELECT bucket,
             CAST(round((ln(CAST(tgt + 1 AS DOUBLE) / (T + {_DSIR_B}))
                       - ln(CAST(raw + 1 AS DOUBLE) / (R + {_DSIR_B})))
                        * 1e6) AS BIGINT) AS r_micro
      FROM dist CROSS JOIN tot),
    stream_toks AS (
      SELECT doc_id, {tokens_sql('text')} AS t
      FROM documents WHERE doc_id % 2 = 1),
    stream_grams AS (
      SELECT doc_id, unnest(t) AS gram FROM stream_toks
      UNION ALL
      SELECT doc_id, t[i] || ' ' || t[i+1] AS gram
      FROM stream_toks, LATERAL (
        SELECT unnest(range(1, len(t))) AS i) ii
      WHERE len(t) >= 2),
    sb AS (
      SELECT doc_id,
             ('0x' || substr(md5(gram), 1, 12))::UBIGINT % {_DSIR_B} AS bucket
      FROM stream_grams)
    SELECT s.doc_id,
           CAST(count(*) AS BIGINT) AS n_grams,
           CAST(sum(coalesce(r.r_micro, 0)) AS BIGINT) AS logw_micro
    FROM sb s LEFT JOIN ratio r USING (bucket)
    GROUP BY s.doc_id
    """,
    "fit-offline / score-online DSIR: the bucket log-ratio dim is FIT on "
    "the historical corpus (even docs) as a batch job, then new "
    "documents arriving as a stream are scored by a stream-static "
    "BROADCAST join against that 4096-row dim + one stateful per-doc "
    "agg (complete-mode AvailableNow drain) — the deployment shape for "
    "continuous curation: the expensive global fit is periodic, "
    "admission scoring is per-batch with KB state. Exact integer "
    "weights as in the batch operator. OOV convention: buckets never "
    "seen at fit time contribute log-ratio 0 (coalesce on the left "
    "join), NOT the Laplace-smoothed ln((R+B)/(T+B)) a full DSIR "
    "formulation would assign — neutral-on-novel is the admission-"
    "scoring convention here (the oracle mirrors it), so stream scores "
    "are comparable to batch dsir_weights only on docs whose buckets "
    "all appeared at fit time",
)
def stream_dsir_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    from jigsaw_spark.operators.samples import (
        dsir_doc_buckets,
        dsir_gram_buckets,
        dsir_ratio_from_dist,
    )
    from jigsaw_spark.streaming.ingest import read_document_stream

    docs = _t(spark, sf_dir, "documents")
    # FIT (batch): the shared bucket pipeline on the historical half,
    # reduced to the broadcastable 4096-row ratio dim
    hist_buckets = dsir_doc_buckets(
        docs.filter(F.col("doc_id") % 2 == 0),
        "doc_id",
        buckets=_DSIR_B,
        target_pred=F.col("lang") == "en",
    )
    dist = hist_buckets.groupBy("bucket").agg(
        F.sum(
            F.when(F.col("_is_target") == 1, F.col("c")).otherwise(0)
        ).alias("tgt"),
        F.sum("c").alias("raw"),
    )
    # materialized BEFORE the stream starts: inside the drain the fit
    # pipeline would execute under the streaming confs (AQE off,
    # state-sized shuffle partitions), underparallelizing the full
    # historical gram pass; batch-side it runs at session parallelism
    # and the drain broadcast-joins a materialized 4096-row dim
    ratio = dsir_ratio_from_dist(dist, _DSIR_B).localCheckpoint()

    # SCORE (stream): the SAME bucket pipeline on the arriving docs,
    # broadcast-joined to the static dim, per-doc agg drained
    # complete/AvailableNow
    stream = read_document_stream(spark, sf_dir).filter(
        F.col("doc_id") % 2 == 1
    )
    # gram-level (no pre-agg): keeps the per-doc aggregate the ONLY
    # stateful operator in the streaming query
    sbuckets = dsir_gram_buckets(stream, "doc_id", buckets=_DSIR_B)
    scored = (
        sbuckets.join(F.broadcast(ratio), "bucket", "left_outer")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_grams"),
            F.sum(F.coalesce("r_micro", F.lit(0)))
            .cast("bigint")
            .alias("logw_micro"),
        )
    )
    return _drain(scored)


# ---------------------------------------------------------------------------
# stream_cdc_upsert
# ---------------------------------------------------------------------------

_CDC_SQL = """
    WITH r AS (
      SELECT user_id, ts, event_id, event_type, value,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY ts DESC, event_id DESC) AS rn
      FROM events)
    SELECT user_id,
           CAST(ts AS TIMESTAMP) AS last_ts,
           event_id AS last_event_id,
           event_type AS last_type,
           round(value, 2) AS last_value
    FROM r WHERE rn = 1
"""


@register(
    "stream_cdc_upsert",
    _CDC_SQL,
    "CDC compaction / streaming upsert: a change stream keyed on "
    "user_id collapses to last-write-wins current state (the "
    "Delta-MERGE-from-CDC pattern) — the streaming agg is ONE "
    "max(struct(ts, event_id, payload...)) per key, whose lexicographic "
    "order IS the (version, tie-break) order, so state per key is one "
    "struct regardless of change volume; complete-mode AvailableNow "
    "drain equals the batch row_number()=1 formulation the oracle runs",
)
def stream_cdc_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    from jigsaw_spark.streaming.ingest import read_event_stream

    stream = read_event_stream(spark, sf_dir, glob="events.parquet")
    latest = stream.groupBy("user_id").agg(
        F.max(
            F.struct("ts", "event_id", "event_type", "value")
        ).alias("last")
    )
    out = latest.select(
        "user_id",
        F.col("last.ts").alias("last_ts"),
        F.col("last.event_id").alias("last_event_id"),
        F.col("last.event_type").alias("last_type"),
        F.round(F.col("last.value"), 2).alias("last_value"),
    )
    return _drain(out)


# ---------------------------------------------------------------------------
# stream_sliding_topk
# ---------------------------------------------------------------------------

_STK_SQL = """
    WITH w AS (
      SELECT CAST(time_bucket(INTERVAL 6 HOUR, ts) AS TIMESTAMP) AS wstart,
             event_type, count(*) AS n
      FROM events GROUP BY 1, 2),
    r AS (
      SELECT wstart, event_type, n,
             row_number() OVER (PARTITION BY wstart
                                ORDER BY n DESC, event_type) AS rank
      FROM w)
    SELECT wstart, event_type, CAST(n AS BIGINT) AS n,
           CAST(rank AS INT) AS rank
    FROM r WHERE rank <= 3
"""


@register(
    "stream_sliding_topk",
    _STK_SQL,
    "streaming trending-now: per 6-hour tumbling window, the top-3 "
    "event types by count. The STREAM side runs one windowed count "
    "(the only stateful operator — the rank is applied to the drained "
    "complete-mode table as a batch transform, respecting the "
    "single-stateful-agg discipline); ties break on event_type so the "
    "top-3 is total. At production volumes the window state is "
    "|types| rows per open window — KB scale",
)
def stream_sliding_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from jigsaw_spark.streaming.ingest import read_event_stream

    stream = read_event_stream(spark, sf_dir, glob="events.parquet")
    counts = stream.groupBy(
        F.window("ts", "6 hours").alias("w"), "event_type"
    ).agg(F.count(F.lit(1)).alias("n"))
    drained = _drain(counts).select(
        F.col("w.start").alias("wstart"), "event_type", "n"
    )
    r = drained.withColumn(
        "rank",
        F.row_number().over(
            Window.partitionBy("wstart").orderBy(F.desc("n"), "event_type")
        ),
    )
    return r.filter(F.col("rank") <= 3).select(
        "wstart",
        "event_type",
        F.col("n").cast("bigint").alias("n"),
        F.col("rank").cast("int").alias("rank"),
    )


# ---------------------------------------------------------------------------
# stream_lateness_audit
# ---------------------------------------------------------------------------

_LATE_SQL = """
    WITH e AS (
      SELECT event_type, epoch_us(ts) AS x, event_id
      FROM events),
    run AS (
      SELECT event_type,
             max(x) OVER (PARTITION BY event_type ORDER BY event_id
                          ROWS UNBOUNDED PRECEDING) - x AS late_us
      FROM e)
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(sum(CASE WHEN late_us > 300000000 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_late_5m,
           CAST(sum(CASE WHEN late_us > 3600000000 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_late_1h,
           CAST(max(late_us) AS BIGINT) AS max_late_us
    FROM run GROUP BY event_type
"""


@register(
    "stream_lateness_audit",
    _LATE_SQL,
    "watermark sizing input — the batch replay of streaming lateness: "
    "per event type, each event's lag behind the running event-time "
    "frontier (arrival order proxied by the monotone event_id), with "
    "drop counts at the 5-minute and 1-hour candidate watermarks and "
    "the max observed lateness. Run BEFORE choosing withWatermark: "
    "the counts are exactly the events a given watermark would drop, "
    "the max bounds the state-retention horizon. One type-partitioned "
    "running-max window + one agg; all integer microseconds",
)
def stream_lateness_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    e = ev.select(
        "event_type", F.unix_micros("ts").alias("x"), "event_id"
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    run = e.select(
        "event_type", (F.max("x").over(w) - F.col("x")).alias("late_us")
    )
    return run.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
        F.sum(F.when(F.col("late_us") > 300000000, 1).otherwise(0))
        .cast("bigint")
        .alias("n_late_5m"),
        F.sum(F.when(F.col("late_us") > 3600000000, 1).otherwise(0))
        .cast("bigint")
        .alias("n_late_1h"),
        F.max("late_us").cast("bigint").alias("max_late_us"),
    )


# ---------------------------------------------------------------------------
# stream_sliding_wau
# ---------------------------------------------------------------------------

_SWAU_SQL = """
    WITH active AS (
      SELECT DISTINCT user_id,
             epoch_us(ts) // 86400000000 AS day
      FROM events),
    span AS MATERIALIZED (SELECT max(day) AS hi FROM active),
    contrib AS (
      SELECT DISTINCT a.user_id, a.day + t.i AS anchor
      FROM active a, range(7) t(i)
      WHERE a.day + t.i <= (SELECT hi FROM span))
    SELECT CAST(anchor AS BIGINT) AS day,
           CAST(count(DISTINCT user_id) AS BIGINT) AS wau
    FROM contrib GROUP BY 1
"""


@register(
    "stream_sliding_wau",
    _SWAU_SQL,
    "weekly-active-users on a STREAM: 7-day windows sliding by 1 day "
    "over event time, exact distinct users per window — streaming "
    "forbids count(DISTINCT), so the exact form is dropDuplicates on "
    "(window, user_id) with a watermark (bounded state: one key per "
    "active user per overlapping window) followed by a plain count, "
    "the stream_dedup idiom applied to sliding windows; drained with "
    "AvailableNow over the static directory it equals the batch "
    "rel_wau_sliding answer (window [s, s+7) = anchor day s+6; "
    "anchors past the data horizon dropped to match the batch "
    "truncation rule). The engagement curve, maintained incrementally",
)
def stream_sliding_wau(spark: SparkSession, sf_dir: str) -> DataFrame:
    from jigsaw_spark.streaming.ingest import read_event_stream

    stream = read_event_stream(spark, sf_dir, glob="events.parquet")
    win = stream.withWatermark("ts", "14 days").select(
        F.window("ts", "7 days", "1 day").alias("w"), "user_id"
    )
    distinct = win.dropDuplicates(["w", "user_id"])
    agg = distinct.groupBy("w").agg(F.count(F.lit(1)).alias("wau"))
    out = _drain(agg).select(
        # window [s, s+7) covers days s..s+6 -> anchor day = s+6
        (
            F.expr("unix_micros(w.start) div 86400000000") + F.lit(6)
        ).alias("day"),
        "wau",
    )
    hi = _t(spark, sf_dir, "events").agg(
        F.expr("max(unix_micros(ts) div 86400000000)").alias("hi")
    )
    return (
        out.crossJoin(F.broadcast(hi))
        .filter(F.col("day") <= F.col("hi"))
        .select(
            F.col("day").cast("bigint").alias("day"),
            F.col("wau").cast("bigint").alias("wau"),
        )
    )


# ---------------------------------------------------------------------------
# stream_contamination
# ---------------------------------------------------------------------------


def _stream_contamination_sql() -> str:
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
      SELECT DISTINCT sh FROM sh WHERE NOT is_holdout)
    SELECT h.doc_id,
           CAST(count(*) AS BIGINT) AS n_occ,
           CAST(count(t.sh) AS BIGINT) AS n_hit_occ,
           CAST(count(t.sh) * 1000 // count(*) AS BIGINT)
             AS contam_occ_milli
    FROM sh h LEFT JOIN train_sh t ON h.sh = t.sh
    WHERE h.is_holdout
    GROUP BY 1
"""


@register(
    "stream_contamination",
    _stream_contamination_sql(),
    "streaming twin of dq_contamination: documents arrive as a "
    "file-source stream, holdout docs' 8-gram shingle OCCURRENCES "
    "left-join the static train shingle set, per-doc counters "
    "maintained incrementally and drained with AvailableNow — the "
    "decontamination audit running as eval docs land rather than as a "
    "batch sweep. Occurrence (not per-doc-distinct) counts are the "
    "streaming-native metric: distinct would need a second stateful "
    "op and two chained stateful aggs without a watermark trip the "
    "correctness check (the stream_dsir_score lesson); docs with zero "
    "shingles (< 8 tokens) produce no stream rows and are out of "
    "scope by definition. State: one counter row per holdout doc, "
    "bounded by the holdout size, never the corpus",
)
def stream_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    from jigsaw_spark.operators.text import shingles_expr, tokens_expr
    from jigsaw_spark.streaming.ingest import read_document_stream

    is_holdout = _holdout_col()

    from jigsaw_spark.session import widen

    # static side: the train shingle set, computed in batch once —
    # widened BEFORE the 8-gram explode (the single-dense-file
    # one-partition trap; the stream side only carries the 5% holdout
    # and stays cheap without it)
    # materialized BEFORE the stream starts: inside the drain the plan
    # would execute under the streaming confs (AQE off, state-sized
    # shuffle partitions — 8-way on a 32-core box), so the full-corpus
    # explode+distinct ran 4× underparallelized; batch-side it runs at
    # session parallelism with AQE and the drain joins materialized
    # blocks (guide §2.4; static side of a stream-static join is
    # re-planned per micro-batch, so this also pins it to one execution)
    train_sh = (
        widen(_t(spark, sf_dir, "documents"))
        .filter(~is_holdout)
        .select(
            F.explode(shingles_expr(tokens_expr("text"), 8)).alias("tsh")
        )
        .distinct()
        .localCheckpoint()
    )

    stream = read_document_stream(spark, sf_dir)
    hold_occ = (
        stream.filter(is_holdout)
        .select(
            "doc_id",
            F.explode(shingles_expr(tokens_expr("text"), 8)).alias("sh"),
        )
    )
    joined = hold_occ.join(
        train_sh, hold_occ["sh"] == train_sh["tsh"], "left"
    )
    agg = joined.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_occ"),
        F.count("tsh").alias("n_hit_occ"),
    )
    return _drain(agg).select(
        "doc_id",
        F.col("n_occ").cast("bigint").alias("n_occ"),
        F.col("n_hit_occ").cast("bigint").alias("n_hit_occ"),
        F.expr("CAST(n_hit_occ * 1000 div n_occ AS BIGINT)").alias(
            "contam_occ_milli"
        ),
    )


# ---------------------------------------------------------------------------
# stream_ece_monitor
# ---------------------------------------------------------------------------

_ECE_MON_SQL = """
    WITH s AS (
      SELECT date_trunc('day', ts) AS day,
             CAST(round(value * 100, 0) AS BIGINT) AS cents,
             CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
      FROM events),
    t AS MATERIALIZED (
      SELECT min(cents) AS lo, max(cents) AS hi FROM s),
    p AS (
      SELECT day, y,
             CASE WHEN (SELECT hi - lo FROM t) = 0 THEN 500000
                  ELSE (cents - (SELECT lo FROM t)) * 1000000
                       // (SELECT hi - lo FROM t) END AS p_micro
      FROM s),
    b AS (
      SELECT day, least(p_micro // 100000, 9) AS bin,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(p_micro) AS BIGINT) AS sp,
             CAST(sum(y) AS BIGINT) AS pos
      FROM p GROUP BY 1, 2)
    SELECT day,
           CAST(sum(n) AS BIGINT) AS n,
           CAST(sum(pos) AS BIGINT) AS pos,
           CAST(sum(abs(sp - 1000000 * pos)) // sum(n) AS BIGINT)
             AS ece_micro
    FROM b GROUP BY 1
"""


@register(
    "stream_ece_monitor",
    _ECE_MON_SQL,
    "streaming calibration monitor: per event-time DAY, the Expected "
    "Calibration Error of the day's traffic against a calibration "
    "card FROZEN offline (score bounds read from the batch table "
    "before the stream starts — the production constraint: a monitor "
    "never re-fits its own bins; over a full AvailableNow drain the "
    "frozen bounds equal the batch bounds, so the oracle is exact). "
    "The monitoring arm of ml_calibration_drift: drift prices decay "
    "between two offline halves, the monitor watches it happen day by "
    "day — the alert wire for 'the probabilities stopped meaning "
    "anything'. Shape: streaming state is the (day x 10 bin) "
    "calendar-bounded dim behind a 1-day tumbling window + 2-day "
    "watermark; the per-day ECE rollup runs batch-side on the drained "
    "bin table (the per-bin terms share the 1e6*n denominator — pure "
    "integer)",
)
def stream_ece_monitor(spark: SparkSession, sf_dir: str) -> DataFrame:
    from jigsaw_spark.streaming.ingest import read_event_stream

    ev = _t(spark, sf_dir, "events")
    [card] = (
        ev.select(F.round(F.col("value") * 100, 0).cast("bigint").alias("c"))
        .agg(F.min("c").alias("lo"), F.max("c").alias("hi"))
        .collect()
    )
    lo, hi = card["lo"], card["hi"]

    stream = read_event_stream(spark, sf_dir, glob="events.parquet")
    cents = F.round(F.col("value") * 100, 0).cast("bigint")
    p_micro = (
        F.lit(500000)
        if hi == lo
        else F.expr(
            f"CAST((CAST(round(value * 100, 0) AS BIGINT) - {lo})"
            f" * 1000000 div {hi - lo} AS BIGINT)"
        )
    )
    scored = stream.withWatermark("ts", "2 days").select(
        F.col("ts"),
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("y"),
        p_micro.alias("p_micro"),
    )
    b = scored.groupBy(
        F.window("ts", "1 day").alias("w"),
        F.expr("least(p_micro div 100000, 9)")
        .cast("bigint")
        .alias("bin"),
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("p_micro").alias("sp"),
        F.sum("y").alias("pos"),
    )
    drained = _drain(b)
    return drained.groupBy(F.col("w.start").alias("day")).agg(
        F.sum("n").cast("bigint").alias("n"),
        F.sum("pos").cast("bigint").alias("pos"),
        F.expr(
            "CAST(sum(abs(sp - 1000000 * pos)) div sum(n) AS BIGINT)"
        ).alias("ece_micro"),
    )


# ---------------------------------------------------------------------------
# stream_psi_monitor
# ---------------------------------------------------------------------------

_PSI_MON_SQL = """
    WITH s AS (
      SELECT date_trunc('day', ts) AS day,
             CAST(round(value * 100, 0) AS BIGINT) AS cents
      FROM events),
    t AS MATERIALIZED (
      SELECT min(cents) AS lo, max(cents) AS hi,
             CAST(count(*) AS BIGINT) AS n
      FROM s),
    binned AS (
      SELECT day,
             least(CASE WHEN (SELECT hi - lo FROM t) = 0 THEN 5
               ELSE (cents - (SELECT lo FROM t)) * 10
                    // (SELECT hi - lo FROM t) END, 9) AS bin
      FROM s),
    expected AS MATERIALIZED (
      SELECT bin, CAST(count(*) AS BIGINT) AS e
      FROM binned GROUP BY 1),
    bins AS (SELECT unnest(range(10)) AS bin),
    actual AS (
      SELECT day, bin, CAST(count(*) AS BIGINT) AS a
      FROM binned GROUP BY 1, 2),
    days AS (SELECT DISTINCT day FROM s),
    grid AS (
      SELECT d.day, b.bin,
             coalesce(a.a, 0) AS a, coalesce(e.e, 0) AS e,
             CAST(sum(coalesce(a.a, 0)) OVER (PARTITION BY d.day)
               AS BIGINT) AS n_day
      FROM days d CROSS JOIN bins b
      LEFT JOIN actual a ON a.day = d.day AND a.bin = b.bin
      LEFT JOIN expected e ON e.bin = b.bin)
    SELECT day, CAST(max(n_day) AS BIGINT) AS n,
           CAST(round(sum(
             ((a + 0.5) / (n_day + 5.0)
              - (e + 0.5) / ((SELECT n FROM t) + 5.0))
             * ln(((a + 0.5) / (n_day + 5.0))
                  / ((e + 0.5) / ((SELECT n FROM t) + 5.0)))
           ) * 1000, 0) AS BIGINT) AS psi_milli
    FROM grid GROUP BY day
"""


@register(
    "stream_psi_monitor",
    _PSI_MON_SQL,
    "streaming drift monitor: per event-time DAY, the PSI of the "
    "day's score distribution against a card FROZEN offline — bin "
    "edges AND expected bin counts read from the batch table before "
    "the stream starts (a monitor never re-fits its own reference; "
    "over a full AvailableNow drain the frozen card equals the batch "
    "card, so the oracle is exact). The streaming twin of "
    "dq_psi_drift and the drift arm next to stream_ece_monitor's "
    "calibration arm; same 0.5/5-smoothed milli-snapped PSI as the "
    "certified p_drift_reweight. Shape: streaming state is the "
    "(day x 10 bin) calendar-bounded dim behind a 1-day tumbling "
    "window + 2-day watermark; the per-day PSI rollup runs batch-side "
    "on the drained bin table against the broadcast frozen card",
)
def stream_psi_monitor(spark: SparkSession, sf_dir: str) -> DataFrame:
    from jigsaw_spark.streaming.ingest import read_event_stream

    ev = _t(spark, sf_dir, "events")
    cents = F.round(F.col("value") * 100, 0).cast("bigint")
    [card] = ev.select(cents.alias("c")).agg(
        F.min("c").alias("lo"),
        F.max("c").alias("hi"),
        F.count(F.lit(1)).cast("bigint").alias("n"),
    ).collect()
    lo, hi, n_ref = card["lo"], card["hi"], card["n"]
    bin_expr = (
        "least(CASE WHEN {span} = 0 THEN 5"
        " ELSE (CAST(round(value * 100, 0) AS BIGINT) - {lo}) * 10"
        " div {span} END, 9)"
    ).format(lo=lo, span=hi - lo)
    expected_rows = (
        ev.select(F.expr(bin_expr).cast("bigint").alias("bin"))
        .groupBy("bin")
        .agg(F.count(F.lit(1)).cast("bigint").alias("e"))
        .collect()
    )
    e_by_bin = {int(r["bin"]): int(r["e"]) for r in expected_rows}

    stream = read_event_stream(spark, sf_dir, glob="events.parquet")
    scored = stream.withWatermark("ts", "2 days").select(
        F.col("ts"), F.expr(bin_expr).cast("bigint").alias("bin")
    )
    b = scored.groupBy(
        F.window("ts", "1 day").alias("w"), "bin"
    ).agg(F.count(F.lit(1)).cast("bigint").alias("a"))
    drained = _drain(b).select(
        F.col("w.start").alias("day"), "bin", "a"
    )
    card_df = F.broadcast(
        spark.createDataFrame(
            [(b_, e_by_bin.get(b_, 0)) for b_ in range(10)],
            "bin bigint, e bigint",
        )
    )
    days = drained.select("day").distinct()
    grid = (
        days.crossJoin(card_df)
        .join(drained, ["day", "bin"], "left")
        .select(
            "day",
            "bin",
            F.coalesce("a", F.lit(0)).alias("a"),
            "e",
        )
    )
    from pyspark.sql.window import Window

    nday = Window.partitionBy("day")
    grid = grid.withColumn(
        "n_day", F.sum("a").over(nday).cast("bigint")
    )
    return grid.groupBy("day").agg(
        F.max("n_day").cast("bigint").alias("n"),
        F.round(
            F.sum(
                (
                    (F.col("a") + 0.5) / (F.col("n_day") + 5.0)
                    - (F.col("e") + 0.5) / (float(n_ref) + 5.0)
                )
                * F.log(
                    ((F.col("a") + 0.5) / (F.col("n_day") + 5.0))
                    / ((F.col("e") + 0.5) / (float(n_ref) + 5.0))
                )
            )
            * 1000,
            0,
        )
        .cast("bigint")
        .alias("psi_milli"),
    )


# ---------------------------------------------------------------------------
# stream_watermark_advisor
# ---------------------------------------------------------------------------

_WM_SQL = """
    WITH e AS (
      SELECT event_type, epoch_us(ts) AS x, event_id FROM events),
    gaps AS (
      SELECT event_type,
             x - lag(x) OVER (PARTITION BY event_type
                              ORDER BY x, event_id) AS gap_us
      FROM e),
    gsec AS (
      SELECT event_type,
             (gap_us + 999999) // 1000000 AS gap_s
      FROM gaps WHERE gap_us IS NOT NULL),
    dim AS MATERIALIZED (
      SELECT event_type, gap_s, CAST(count(*) AS BIGINT) AS c
      FROM gsec GROUP BY 1, 2),
    tot AS (
      SELECT event_type, CAST(sum(c) AS BIGINT) AS n_gaps
      FROM dim GROUP BY 1),
    cum AS (
      SELECT event_type, gap_s,
             sum(c) OVER (PARTITION BY event_type ORDER BY gap_s
                          ROWS UNBOUNDED PRECEDING) AS cc
      FROM dim),
    p99 AS (
      SELECT c.event_type,
             CAST(min(c.gap_s) AS BIGINT) AS p99_gap_s
      FROM cum c JOIN tot t ON c.event_type = t.event_type
      WHERE c.cc >= (99 * t.n_gaps + 99) // 100
      GROUP BY 1),
    daily AS (
      SELECT event_type, epoch_us(ts) // 86400000000 AS day,
             CAST(count(*) AS BIGINT) AS dx
      FROM events GROUP BY 1, 2),
    fano AS (
      SELECT event_type,
             CAST(CASE WHEN count(*) * sum(dx) = 0 THEN 0
               ELSE (count(*) * sum(dx * dx) - sum(dx) * sum(dx)) * 1000
                    // (count(*) * sum(dx)) END AS BIGINT) AS fano_milli
      FROM daily GROUP BY 1),
    rec AS (
      SELECT p.event_type, t.n_gaps, f.fano_milli, p.p99_gap_s,
             CAST(CASE WHEN f.fano_milli > 2000 THEN 2 ELSE 1 END
               * (((p.p99_gap_s + 59) // 60) * 60) AS BIGINT)
               AS idle_timeout_s
      FROM p99 p
      JOIN tot t ON p.event_type = t.event_type
      JOIN fano f ON p.event_type = f.event_type),
    beyond AS (
      SELECT r.event_type,
             CAST(coalesce(sum(CASE WHEN d.gap_s > r.idle_timeout_s
               THEN d.c ELSE 0 END), 0) AS BIGINT) AS n_beyond
      FROM rec r JOIN dim d ON r.event_type = d.event_type
      GROUP BY 1)
    SELECT r.event_type, r.n_gaps, r.fano_milli, r.p99_gap_s,
           r.idle_timeout_s, b.n_beyond,
           CAST(CASE WHEN r.n_gaps = 0 THEN 0
             ELSE b.n_beyond * 1000 // r.n_gaps END AS BIGINT)
             AS beyond_milli
    FROM rec r JOIN beyond b ON r.event_type = b.event_type
"""


@register(
    "stream_watermark_advisor",
    _WM_SQL,
    "burstiness-aware idle-timeout advisor per event type (verdict r11 "
    "#4): the fixture's event stream is perfectly event-time ordered "
    "(stream_lateness_audit certifies all-zero lateness), so the "
    "watermark decision that REMAINS is the idle-source one — how long "
    "may a source stay silent before the pipeline advances time past "
    "it (Flink's withIdleness / Spark's stateful-timeout sizing). "
    "Exact p99 inter-arrival gap (ceil'd to second grain so the "
    "quantile dim is value-domain bounded), bumped to the next minute, "
    "DOUBLED when the day-count Fano factor says arrivals are bursty "
    "(> 2x Poisson's 1000 milli — a bursty process produces longer "
    "genuine silences than its p99 calm-period gap), plus the exact "
    "count and milli share of observed gaps that would STILL fire the "
    "recommended timeout (the premature-close incidents). Composes "
    "ts_fano_factor's overdispersion with the gap distribution into "
    "the timeout both exist to inform. Shape: one type-partitioned lag "
    "window, a quantized (type, second) dim with a dim-bounded "
    "cumulative window, |types|-row rollups",
)
def stream_watermark_advisor(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    e = ev.select(
        "event_type", F.unix_micros("ts").alias("x"), "event_id"
    )
    # lag ordered by (ts, event_id), not event_id alone (advisor r12
    # #2): the fixture is certified zero-lateness so the two orders
    # coincide today, but event-time order is the semantic contract —
    # on an out-of-order fixture gaps stay non-negative by construction
    wlag = Window.partitionBy("event_type").orderBy("x", "event_id")
    gaps = e.select(
        "event_type",
        (F.col("x") - F.lag("x").over(wlag)).alias("gap_us"),
    ).filter(F.col("gap_us").isNotNull())
    gsec = gaps.select(
        "event_type",
        F.expr(
            "CAST((gap_us + 999999) div 1000000 AS BIGINT)"
        ).alias("gap_s"),
    )
    dim = gsec.groupBy("event_type", "gap_s").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    tot = dim.groupBy("event_type").agg(
        F.sum("c").cast("bigint").alias("n_gaps")
    )
    wcum = (
        Window.partitionBy("event_type")
        .orderBy("gap_s")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum = dim.select(
        "event_type", "gap_s", F.sum("c").over(wcum).alias("cc")
    )
    p99 = (
        cum.join(tot, "event_type")
        .filter(
            F.col("cc") >= F.expr("(99 * n_gaps + 99) div 100")
        )
        .groupBy("event_type")
        .agg(F.min("gap_s").cast("bigint").alias("p99_gap_s"))
    )
    daily = ev.groupBy(
        "event_type",
        F.expr("unix_micros(ts) div 86400000000").alias("day"),
    ).agg(F.count(F.lit(1)).cast("bigint").alias("dx"))
    fano = daily.groupBy("event_type").agg(
        F.expr(
            "CAST(CASE WHEN count(1) * sum(dx) = 0 THEN 0"
            " ELSE (count(1) * sum(dx * dx) - sum(dx) * sum(dx)) * 1000"
            " div (count(1) * sum(dx)) END AS BIGINT)"
        ).alias("fano_milli")
    )
    rec = (
        p99.join(tot, "event_type")
        .join(fano, "event_type")
        .select(
            "event_type",
            "n_gaps",
            "fano_milli",
            "p99_gap_s",
            F.expr(
                "CAST(CASE WHEN fano_milli > 2000 THEN 2 ELSE 1 END"
                " * (((p99_gap_s + 59) div 60) * 60) AS BIGINT)"
            ).alias("idle_timeout_s"),
        )
    )
    beyond = (
        rec.select("event_type", "idle_timeout_s")
        .join(dim, "event_type")
        .groupBy("event_type")
        .agg(
            F.coalesce(
                F.sum(
                    F.when(
                        F.col("gap_s") > F.col("idle_timeout_s"),
                        F.col("c"),
                    ).otherwise(0)
                ),
                F.lit(0),
            )
            .cast("bigint")
            .alias("n_beyond")
        )
    )
    return rec.join(beyond, "event_type").select(
        "event_type",
        "n_gaps",
        "fano_milli",
        "p99_gap_s",
        "idle_timeout_s",
        "n_beyond",
        F.expr(
            "CAST(CASE WHEN n_gaps = 0 THEN 0"
            " ELSE n_beyond * 1000 div n_gaps END AS BIGINT)"
        ).alias("beyond_milli"),
    )


# ---------------------------------------------------------------------------
# stream_phash_dedup
# ---------------------------------------------------------------------------


def _stream_phash_sql() -> str:
    return f"""
    WITH {_PHASH_BYTES_CTE.strip()},
    corp AS (SELECT i, byte_idx, byte_val FROM ph_bytes
             WHERE i % 40 = 0),
    strm AS (SELECT i, byte_idx, byte_val FROM ph_bytes
             WHERE i % 40 <> 0),
    cand AS MATERIALIZED (
      SELECT DISTINCT s.i AS sid, c.i AS cid
      FROM strm s JOIN corp c ON s.byte_idx = c.byte_idx
                             AND s.byte_val = c.byte_val),
    ham AS (
      SELECT p.sid, p.cid,
             CAST(sum(bit_count(xor(s.byte_val, c.byte_val)))
               AS BIGINT) AS hamming
      FROM cand p
      JOIN strm s ON s.i = p.sid
      JOIN corp c ON c.i = p.cid AND c.byte_idx = s.byte_idx
      GROUP BY 1, 2),
    per AS (
      SELECT i AS sid,
             max(CASE WHEN h.sid IS NOT NULL THEN 1 ELSE 0 END)
               AS has_cand,
             max(CASE WHEN h.hamming <= 6 THEN 1 ELSE 0 END)
               AS blocked
      FROM (SELECT DISTINCT i FROM strm) u
      LEFT JOIN ham h ON u.i = h.sid
      GROUP BY 1)
    SELECT d.source,
           CAST(count(*) AS BIGINT) AS n_streamed,
           CAST(sum(p.has_cand) AS BIGINT) AS n_candidates,
           CAST(sum(p.blocked) AS BIGINT) AS n_blocked,
           CAST(count(*) - sum(p.blocked) AS BIGINT) AS n_admitted
    FROM per p JOIN documents d ON p.sid = d.doc_id
    GROUP BY d.source
"""


@register(
    "stream_phash_dedup",
    _stream_phash_sql(),
    "streaming image near-dup ADMISSION — the image twin of "
    "stream_lsh_dedup: new images (the doc_id%40!=0 arrivals, which "
    "include the synthetic twins of the %40==0 corpus) stream in as "
    "documents, are synthesized + dHashed by the SAME map-only Arrow "
    "kernels as the batch path, and probe the historical corpus "
    "index (%40==0) with a stream-static (byte_idx, byte_val) band "
    "join; the drained per-pair band-hit counts are then Hamming-"
    "verified batch-side (<= 6, the production threshold) into a "
    "per-source admission ledger. Near-dup imagery is blocked "
    "BEFORE ingest with no stream-side state beyond one drain agg. "
    "Shape: band-equality probe (broadcastable index), candidate-"
    "only verification, no pair surface beyond band hits",
)
def stream_phash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from jigsaw_spark.multimodal.binary_ops import phash_dhash
    from jigsaw_spark.streaming.ingest import read_document_stream

    docs = _t(spark, sf_dir, "documents")
    # checkpoint ONCE: corp (the stream-static index), both verify
    # projections and the streamed universe all reference this relation
    # — uncheckpointed, each re-ran the synth+dHash kernel (4 passes)
    all_ph = phash_dhash(_phash_images(spark, sf_dir)).select(
        F.col("image_id").cast("bigint").alias("i"),
        "byte_idx",
        "byte_val",
    ).localCheckpoint()
    corp = all_ph.filter(F.col("i") % 40 == 0).select(
        F.col("i").alias("cid"),
        F.col("byte_idx").alias("cbi"),
        F.col("byte_val").alias("cbv"),
    )
    # the arriving side: a real file-source stream through the same
    # synthesis + dHash kernels, band-probing the static index
    stream_ids = (
        read_document_stream(spark, sf_dir)
        .filter(
            (F.col("doc_id") % 10 == 0) & (F.col("doc_id") % 40 != 0)
        )
        .select("doc_id")
    )
    sph = phash_dhash(_synth_images(stream_ids)).select(
        F.col("image_id").cast("bigint").alias("sid"),
        F.col("byte_idx").alias("sbi"),
        F.col("byte_val").alias("sbv"),
    )
    hits = (
        sph.join(
            corp,
            (F.col("sbi") == F.col("cbi"))
            & (F.col("sbv") == F.col("cbv")),
        )
        .groupBy("sid", "cid")
        .agg(F.count(F.lit(1)).alias("n_hit_bands"))
    )
    cand = _drain(hits).select("sid", "cid").localCheckpoint()
    # batch-side exact verification of the drained candidates only
    # (fresh projections with distinct names — the self-join attribute
    # dedup trap)
    sbatch = all_ph.filter(F.col("i") % 40 != 0).select(
        F.col("i").alias("sid"),
        F.col("byte_idx").alias("vbi"),
        F.col("byte_val").alias("vbv"),
    )
    corpv = all_ph.filter(F.col("i") % 40 == 0).select(
        F.col("i").alias("vcid"),
        F.col("byte_idx").alias("vci"),
        F.col("byte_val").alias("vcv"),
    )
    ham = (
        cand.join(sbatch, "sid")
        .join(
            corpv,
            (F.col("cid") == F.col("vcid"))
            & (F.col("vbi") == F.col("vci")),
        )
        .groupBy("sid", "cid")
        .agg(
            F.sum(F.bit_count(F.col("vbv").bitwiseXOR(F.col("vcv"))))
            .cast("bigint")
            .alias("hamming")
        )
    )
    # the streamed-id universe IS the synth filter (one image per
    # doc_id % 10 == 0 row; phash_dhash never drops a row)
    per = (
        docs.filter(
            (F.col("doc_id") % 10 == 0) & (F.col("doc_id") % 40 != 0)
        )
        .select(F.col("doc_id").alias("sid"))
        .join(
            ham.groupBy("sid").agg(
                F.lit(1).alias("has_cand"),
                F.max(
                    F.when(F.col("hamming") <= 6, 1).otherwise(0)
                ).alias("blocked"),
            ),
            "sid",
            "left",
        )
        .select(
            "sid",
            F.coalesce("has_cand", F.lit(0)).alias("has_cand"),
            F.coalesce("blocked", F.lit(0)).alias("blocked"),
        )
    )
    return (
        per.join(
            docs.select(F.col("doc_id").alias("sid"), "source"), "sid"
        )
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_streamed"),
            F.sum("has_cand").cast("bigint").alias("n_candidates"),
            F.sum("blocked").cast("bigint").alias("n_blocked"),
            (F.count(F.lit(1)) - F.sum("blocked"))
            .cast("bigint")
            .alias("n_admitted"),
        )
    )
