"""Deterministic sampling, splitting, fold and shard assignment.

Reference semantics (SURVEY §2.5):
  - P1 exact-N sample, seed 42 (jigsaw/model_utils/filters.py:233-241)
  - P2 split_data: shuffle then cut at max(1, int(n*test_percent))
    (jigsaw/write_dataset.py:66-89)
  - P3 divide_into_folds: KFold(k, shuffle, seed 0)
    (jigsaw/write_dataset.py:92-130)
  - P7 round-robin shards, num_shards = n//1000 + 1
    (jigsaw/write_dataset.py:185,194-198)
  - P8 global determinism (jigsaw/cli.py:10-11)

All pseudo-randomness derives from ``md5(key)`` (see functions/hashing.py):
partition-independent, engine-portable (exact DuckDB oracle), and stable
under AQE/speculative re-execution — which Spark's ``rand(seed)`` is not.

Scale notes (100 TB):
  - ``exact_sample`` compiles to TakeOrderedAndProject — a parallel partial
    top-N per partition then a driver-side merge of N·num_partitions rows.
    Cheap for N up to ~10⁶.
  - ``split_data``/``kfold_assign``/``shard_assign`` need a *global* rank.
    ``_ranked`` computes it fully in parallel (zipWithIndex pattern):
    range-partition on the md5 order key, sort within partitions, then
    rank = partition-local index + per-partition offsets collected as
    metadata (one row per partition). No single-partition window anywhere.
    The hash-threshold variants (``approx_split``, ``kfold_hash``) remain
    for when even the rank's one range-shuffle is too much — they are
    shuffle-free and deviate from exact counts only by binomial noise
    (<0.1% at 10⁸ rows).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from jigsaw_spark.functions.hashing import det_hash, det_order, md5_int, md5_key


def exact_sample(
    df: DataFrame,
    n: int,
    key_cols: list[str],
    seed: str = "sample-42",
    tiebreak_cols: list[str] | None = None,
) -> DataFrame:
    """Exactly-N pseudo-random rows, deterministic in the key (P1).

    If the key is not unique, pass ``tiebreak_cols`` covering the remaining
    output columns so the order is total — otherwise the membership of the
    boundary row is engine-dependent.

    The md5 sort key is projected once per row into a temporary column,
    so the top-N sort compares attributes instead of hashing the key on
    every comparison. The order is :func:`det_order`'s."""
    order = [F.col(c) for c in ("_xs_hk", *key_cols, *(tiebreak_cols or ()))]
    return (
        df.withColumn("_xs_hk", md5_key(*key_cols, seed=seed))
        .orderBy(*order)
        .limit(n)
        .drop("_xs_hk")
    )


def weighted_sample(
    df: DataFrame,
    n: int,
    key_cols: list[str],
    weight: Column,
    seed: str = "wsample-42",
) -> DataFrame:
    """Exact-N weighted sample without replacement (Efraimidis-Spirakis
    A-ES), deterministic in the key — the data-mixture sampler: rows with
    weight 2w are selected ~2x as often as weight w, exactly N survive.

    Each row draws u ~ Uniform(0,1] from its md5 stream; the rank key is
    ln(u)/weight and the N largest win. Scale shape: TakeOrdered top-N
    (per-partition heaps + single merge), no global sort, no shuffle of
    the full input — same physical plan as exact_sample. Portable: the
    oracle reproduces u from the same md5 hex prefix bit-for-bit."""
    u = (
        det_hash(*key_cols, seed=seed, chars=12).cast("double") + F.lit(1.0)
    ) / F.lit(float(16**12))
    # round the rank key: JVM and other engines' libm log() may differ in
    # the last ULP, which could flip membership at the top-N boundary; 12
    # digits is far above the ULP noise and far below any real weight gap
    # (the key-column tiebreak already makes the order total).
    wkey = F.round(F.log(u) / weight, 12)
    key_sort = [F.col(c).asc() for c in key_cols]
    return (
        df.withColumn("_wkey", wkey)
        .orderBy(F.desc("_wkey"), *key_sort)
        .limit(n)
        .drop("_wkey")
    )


def stratified_sample(
    df: DataFrame,
    n_per_group: int,
    group_cols: list[str],
    key_cols: list[str],
    seed: str = "strat-42",
    tiebreak_cols: list[str] | None = None,
) -> DataFrame:
    """Exactly-N pseudo-random rows PER GROUP — class-balanced subsets for
    training data (P1 generalized). Unlike the global exact_sample, this is
    fully parallel at any scale: one shuffle on the group key, then a
    partition-local top-N per group (no global rank)."""
    order = det_order(*key_cols, seed=seed)
    if tiebreak_cols:
        order += [F.col(c).asc() for c in tiebreak_cols]
    w = Window.partitionBy(*group_cols).orderBy(*order)
    return (
        df.withColumn("_srn", F.row_number().over(w))
        .filter(F.col("_srn") <= n_per_group)
        .drop("_srn")
    )


def _max_rows(df: DataFrame) -> int | None:
    """Catalyst's static upper bound on the rows of ``df``'s analyzed plan,
    or None when the plan has no bound (or the session exposes no JVM
    plan)."""
    try:
        bound = df._jdf.queryExecution().analyzed().maxRows()
    except Exception:
        return None
    return int(bound.get()) if bound.isDefined() else None


def _ranked(
    df: DataFrame,
    key_cols: list[str],
    seed: str,
    strategy: str = "auto",
    local_threshold: int = 5_000_000,
) -> DataFrame:
    """Exact global rank over the deterministic md5 order. The rank VALUES
    are a pure function of the keys (total order: md5 key, then raw key),
    so the physical strategy is free to vary by size — like AQE swapping
    join strategies:

    - ``"local"`` (row count under ``local_threshold``): one global-order
      window — a single-partition sort. Cheapest when the data fits one
      task; this is also the reference's semantic shape.
    - ``"distributed"``: range-partition on the order key, sort within
      partitions, rank = partition-local index (via
      ``monotonically_increasing_id``'s (pid, local_idx) encoding) +
      per-partition offsets collected as metadata (one tiny row per
      partition — the zipWithIndex pattern). Every stage is parallel and
      the offset join is a broadcast; the serial boundary never appears,
      so split/kfold/shard hold at 100 TB.

    ``"auto"`` first reads the analyzed plan's row bound (``maxRows``:
    a ``limit``/exact-N sample caps it, a bare table scan has none) and
    picks ``"local"`` with no job when the bound is at most
    ``local_threshold``. Only an unbounded plan runs the counting probe,
    an early-exit ``limit(threshold+1).count()`` (narrow, no shuffle)."""
    if strategy == "auto":
        bound = _max_rows(df)
        if bound is None or bound > local_threshold:
            bound = df.limit(local_threshold + 1).count()
        strategy = "local" if bound <= local_threshold else "distributed"
    if strategy == "local":
        w = Window.orderBy(md5_key(*key_cols, seed=seed), *key_cols)
        return df.withColumn("_rn", F.row_number().over(w)).withColumn(
            "_n", F.count(F.lit(1)).over(Window.partitionBy())
        )
    hk = md5_key(*key_cols, seed=seed).alias("_hk")
    keyed = df.withColumn("_hk", hk)
    order = [F.col("_hk"), *[F.col(c) for c in key_cols]]
    parted = (
        keyed.repartitionByRange(*order)
        .sortWithinPartitions(*order)
        .localCheckpoint(eager=False)
    )
    pid = F.spark_partition_id().alias("_pid")
    counts = sorted(
        (r["_pid"], r["c"])
        for r in parted.select(pid).groupBy("_pid").agg(F.count(F.lit(1)).alias("c")).collect()
    )
    total = sum(c for _, c in counts)
    offsets, acc = [], 0
    for p, c in counts:
        offsets.append((p, acc))
        acc += c
    spark = df.sparkSession
    offset_df = spark.createDataFrame(
        offsets or [(0, 0)], "_pid int, _offset bigint"
    )
    # monotonically_increasing_id over the materialized sorted partitions
    # encodes (partition_id << 33) + local_row_index, so the global rank is
    # a NARROW map-side expression (+ a broadcast of the tiny offset table)
    # — no second shuffle, no window at all.
    return (
        parted.withColumn("_mid", F.monotonically_increasing_id())
        .withColumn("_pid", F.shiftright(F.col("_mid"), 33).cast("int"))
        .withColumn("_lidx", F.col("_mid").bitwiseAND(F.lit((1 << 33) - 1)))
        .join(F.broadcast(offset_df), "_pid", "left")
        .withColumn(
            "_rn",
            (F.col("_lidx") + F.coalesce("_offset", F.lit(0)) + 1).cast("int"),
        )
        .withColumn("_n", F.lit(total))
        .drop("_mid", "_pid", "_lidx", "_offset", "_hk")
    )


def split_data(
    df: DataFrame,
    key_cols: list[str],
    test_fraction: float = 0.2,
    seed: str = "split-42",
) -> tuple[DataFrame, DataFrame]:
    """Exact (test, dev) split: test gets max(1, floor(n·fraction)) rows —
    the reference's min-1 semantics (write_dataset.py:76-84), which error on
    n<2; we mirror that only in that a 1-row input yields an empty dev."""
    ranked = _ranked(df, key_cols, seed)
    cutoff = F.greatest(F.lit(1), F.floor(F.col("_n") * F.lit(test_fraction)))
    test = ranked.filter(F.col("_rn") <= cutoff).drop("_rn", "_n")
    dev = ranked.filter(F.col("_rn") > cutoff).drop("_rn", "_n")
    return test, dev


def approx_split(
    df: DataFrame,
    key_cols: list[str],
    test_fraction: float = 0.2,
    seed: str = "split-42",
) -> tuple[DataFrame, DataFrame]:
    """Scale-path split: hash-threshold on md5(key) — no global rank, no
    shuffle, fully parallel; counts are binomial around n·fraction."""
    # first 8 hex chars → uniform 32-bit int
    bucket = det_hash(*key_cols, seed=seed, chars=8)
    pred = bucket < F.lit(int(test_fraction * 0xFFFFFFFF))
    return df.filter(pred), df.filter(~pred)


def bernoulli_threshold_hex(fraction: float, digits: int = 8) -> str:
    """Hex prefix threshold for :func:`bernoulli_sample`: a row is kept when
    its md5 hex digest compares lexicographically below this string. hex
    digits 0-9a-f are ASCII-ordered, so string compare ≡ numeric compare of
    the first ``digits`` nibbles — portable to any engine with md5()."""
    scaled = min(int(round(fraction * 16**digits)), 16**digits - 1)
    return format(scaled, f"0{digits}x")


def bernoulli_sample(
    df: DataFrame,
    key_cols: list[str],
    fraction: float,
    seed: str = "tablesample-42",
) -> DataFrame:
    """TABLESAMPLE BERNOULLI analog, deterministic in the key (P1 scale
    path). Pure filter — no shuffle, no global rank, fully parallel, and
    membership is partition-independent (AQE/speculation-safe), unlike
    ``df.sample(fraction, seed)`` whose membership depends on split order.
    Row count is binomial around n·fraction."""
    return df.filter(md5_key(*key_cols, seed=seed) < F.lit(bernoulli_threshold_hex(fraction)))


def kfold_assign(
    df: DataFrame, k: int, key_cols: list[str], seed: str = "kfold-0"
) -> DataFrame:
    """Adds ``fold`` ∈ [0,k): round-robin over the deterministic shuffle
    order — equal-sized folds exactly like sklearn KFold(shuffle=True) (P3).
    """
    ranked = _ranked(df, key_cols, seed)
    return ranked.withColumn("fold", ((F.col("_rn") - 1) % k).cast("int")).drop("_rn", "_n")


def kfold_hash(df: DataFrame, k: int, key_cols: list[str], seed: str = "kfold-0") -> DataFrame:
    """Scale-path fold assignment: pmod(md5-int, k); parallel, near-equal folds."""
    bucket = det_hash(*key_cols, seed=seed)
    return df.withColumn("fold", F.pmod(bucket, F.lit(k)).cast("int"))


def shard_assign(
    df: DataFrame,
    key_cols: list[str],
    rows_per_shard: int = 1000,
    seed: str = "shard",
) -> DataFrame:
    """Adds ``shard``: num_shards = n // rows_per_shard + 1, round-robin by
    deterministic rank — the reference's `index % num_shards` with its
    `n//1000+1` shard count (write_dataset.py:185,194-198). At scale prefer
    ``df.repartition(num_shards)`` + ``maxRecordsPerFile`` and let the sink
    balance; this operator exists for exact parity + the oracle."""
    ranked = _ranked(df, key_cols, seed)
    num_shards = F.floor(F.col("_n") / rows_per_shard) + 1
    return ranked.withColumn(
        "shard", ((F.col("_rn") - 1) % num_shards).cast("int")
    ).drop("_rn", "_n")


def dsir_weights(
    df: DataFrame,
    key: str,
    target_pred: Column,
    text: str = "text",
    buckets: int = 4096,
) -> DataFrame:
    """DSIR importance weights (Xie et al. 2023, "Data Selection for
    Language Models via Importance Resampling"): score every raw document
    by how much its hashed-n-gram profile looks like a target corpus.

    Features are unigrams + word-bigrams hashed into ``buckets`` buckets
    (the hashing trick keeps the feature space fixed-size at any corpus
    scale). Bucket distributions: p = target (rows matching
    ``target_pred``), q = full raw corpus, both Laplace-smoothed
    (+1 / +buckets). Per-doc log importance weight:

        log w(doc) = sum_b c_b(doc) * (ln p_b - ln q_b)

    Determinism across engines: the per-bucket log-ratio snaps to integer
    MICRO-units (round(x*1e6) — one libm call per bucket, identical
    derivation in Spark and DuckDB), so the per-doc weight is an EXACT
    integer sum — no float accumulation order anywhere.

    Plan shape (100 TB): one gram explode -> (key, bucket) hash agg; the
    two bucket distributions aggregate to ``buckets`` rows and come back
    as ONE broadcast dim; final (key) hash agg. All linear, no self-join,
    dims KB-sized. Returns (key, n_grams, logw_micro).
    """
    per_doc = dsir_doc_buckets(df, key, text, buckets, target_pred)
    # bucket distributions from the SAME (key,bucket) partials (tiny table)
    dist = per_doc.groupBy("bucket").agg(
        F.sum(F.when(F.col("_is_target") == 1, F.col("c")).otherwise(0)).alias("tgt"),
        F.sum("c").alias("raw"),
    )
    ratio = dsir_ratio_from_dist(dist, buckets)
    return (
        per_doc.join(F.broadcast(ratio), "bucket")
        .groupBy(key)
        .agg(
            F.sum("c").cast("bigint").alias("n_grams"),
            F.sum(F.col("c") * F.col("r_micro")).cast("bigint").alias(
                "logw_micro"
            ),
        )
    )


def dsir_gram_buckets(
    df: DataFrame,
    key: str,
    text: str = "text",
    buckets: int = 4096,
    target_pred: Column | None = None,
) -> DataFrame:
    """(key, bucket[, _is_target]) — ONE ROW PER GRAM, map-only (explode
    + hash, no aggregation): the shared front half of every DSIR
    pipeline. Streaming scorers use this form directly so the per-doc
    aggregate stays the query's single stateful operator (a pre-agg here
    would chain two stateful aggs without a watermark, which Spark's
    streaming correctness check rejects)."""
    from jigsaw_spark.operators.text import shingles_expr, tokens_expr

    cols = [F.col(key), tokens_expr(text).alias("_t")]
    if target_pred is not None:
        cols.insert(1, target_pred.cast("int").alias("_is_target"))
    toks = df.select(*cols)
    keep = [key] + (["_is_target"] if target_pred is not None else [])
    return toks.select(
        *keep,
        F.explode(
            F.concat(F.col("_t"), shingles_expr("_t", 2))
        ).alias("gram"),
    ).select(
        *keep,
        F.pmod(
            md5_int(F.md5("gram"), 12),
            F.lit(buckets),
        ).alias("bucket"),
    )


def dsir_doc_buckets(
    df: DataFrame,
    key: str,
    text: str = "text",
    buckets: int = 4096,
    target_pred: Column | None = None,
) -> DataFrame:
    """(key, bucket, c[, _is_target]): per-doc hashed unigram+bigram
    bucket counts — ``dsir_gram_buckets`` + ONE (key, bucket) hash agg
    (batch form)."""
    grams = dsir_gram_buckets(df, key, text, buckets, target_pred)
    aggs = [F.count(F.lit(1)).alias("c")]
    if target_pred is not None:
        aggs.append(F.max("_is_target").alias("_is_target"))
    return grams.groupBy(key, "bucket").agg(*aggs)


def dsir_ratio_from_dist(dist: DataFrame, buckets: int) -> DataFrame:
    """(bucket, r_micro): Laplace-smoothed target/raw log-ratio snapped
    to integer micro-units — the broadcastable scoring dim. ``dist``
    must carry (bucket, tgt, raw)."""
    tot = dist.agg(F.sum("tgt").alias("T"), F.sum("raw").alias("R"))
    return dist.crossJoin(F.broadcast(tot)).select(
        "bucket",
        F.round(
            (
                F.log((F.col("tgt") + 1).cast("double") / (F.col("T") + buckets))
                - F.log((F.col("raw") + 1).cast("double") / (F.col("R") + buckets))
            )
            * 1e6
        )
        .cast("bigint")
        .alias("r_micro"),
    )


def kcenter_coreset(
    df: DataFrame,
    k: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    scale: int = 10**6,
) -> list[tuple[int, int, int]]:
    """Greedy k-center coreset (farthest-point traversal) — the classic
    2-approximation diverse-subset selector for training-data curation,
    with the whole trajectory in exact integer arithmetic.

    Coordinates quantize to ``scale`` micro-units; each round every
    point's distance-to-selected-set is the integer
    ``min_c sum((xq - cq)^2)`` and the farthest point (tie-break lowest
    id) joins the set. Deterministic seed: smallest md5('kcenter|'||id).
    Integer distances + total ordering make the selection bit-identical
    across engines/partitionings — SQL-replayable as k unrolled stages
    with an incremental least(mind, dist-to-new-point) recurrence.

    Scale shape per round: selected coordinates ride as LITERAL nested
    arrays (k x dim ints, KBs), so the min-distance pass is MAP-ONLY
    followed by a distributed TakeOrdered(1) — no join, no lineage
    growth (each round's plan starts at the parquet scan). k corpus
    scans total; for k beyond ~100 switch to batched selection
    (gonzalez-with-batches) — documented, not needed at coreset sizes.

    Returns [(round, id, dist2_at_selection)] — round 0 is the seed.
    """
    xq_arr = F.transform(
        F.col(vec_col).cast("array<double>"),
        lambda x: F.round(x * scale).cast("long"),
    )
    base = df.select(F.col(id_col), xq_arr.alias("_xq"))
    seed_rows = exact_sample(base, 1, [id_col], seed="kcenter").collect()
    if not seed_rows:  # totality guard: empty corpus -> empty coreset
        return []
    seed = seed_rows[0]
    selected: list[tuple[int, int, int]] = [(0, seed[id_col], 0)]
    sel_coords = [list(map(int, seed["_xq"]))]
    for rnd in range(1, k):
        sel_lit = F.array(
            *[F.array(*[F.lit(v) for v in c]) for c in sel_coords]
        )
        mind = F.array_min(
            F.transform(
                sel_lit,
                lambda c: F.aggregate(
                    F.zip_with(
                        F.col("_xq"), c, lambda x, cq: (x - cq) * (x - cq)
                    ),
                    F.lit(0).cast("long"),
                    lambda acc, v: acc + v,
                ),
            )
        )
        sel_ids = [s[1] for s in selected]
        far_rows = (
            base.filter(~F.col(id_col).isin(sel_ids))
            .select(id_col, "_xq", mind.alias("mind"))
            .orderBy(F.desc("mind"), id_col)
            .limit(1)
            .collect()
        )
        if not far_rows:  # k > n: every point is already selected
            break
        far = far_rows[0]
        selected.append((rnd, far[id_col], int(far["mind"])))
        sel_coords.append(list(map(int, far["_xq"])))
    return selected
