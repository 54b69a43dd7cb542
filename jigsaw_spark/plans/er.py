"""Entity-resolution queries (``er_*``): blocking, fuzzy matching,
survivorship, pairwise quality.

Exact identities collapse to keepers before any pair is enumerated, so
blocks are bounded by the name vocabulary, not the corpus; per-block pair
counts are capped by block size, the tuning knob every ER deployment
exposes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from jigsaw_spark.plans.registry import _t, register


# ---------------------------------------------------------------------------
# er_survivorship
# ---------------------------------------------------------------------------

_SURV_SQL = """
    WITH recs AS (
      -- two conflicting record versions per customer entity: v1 is a
      -- later partial update (balance missing for 1-in-3, name cased
      -- differently, segment only on v0)
      SELECT c_custkey AS entity, 0 AS version, c_custkey % 5 AS rec_ts,
             c_name AS name,
             CAST(round(c_acctbal * 100, 0) AS BIGINT) AS bal_cents,
             c_mktsegment AS segment
      FROM customer
      UNION ALL
      SELECT c_custkey, 1, c_custkey % 5 + 1,
             upper(c_name),
             CASE WHEN c_custkey % 3 = 0 THEN NULL
                  ELSE CAST(round(c_acctbal * 100, 0) AS BIGINT) + 1000 END,
             CAST(NULL AS VARCHAR)
      FROM customer),
    golden AS (
      SELECT entity,
             arg_max(name, CASE WHEN name IS NOT NULL
                           THEN rec_ts * 10 + version END) AS name,
             arg_max(bal_cents, CASE WHEN bal_cents IS NOT NULL
                                THEN rec_ts * 10 + version END)
               AS bal_cents,
             arg_max(segment, CASE WHEN segment IS NOT NULL
                              THEN rec_ts * 10 + version END) AS segment,
             count(*) AS n_records
      FROM recs GROUP BY entity)
    SELECT CAST(entity AS BIGINT) AS entity,
           name,
           CAST(bal_cents AS BIGINT) AS bal_cents,
           segment,
           CAST(n_records AS BIGINT) AS n_records
    FROM golden WHERE entity % 10 = 0
"""


@register(
    "er_survivorship",
    _SURV_SQL,
    "entity-resolution survivorship (golden-record merge): two "
    "conflicting record versions per customer (the later one a "
    "partial update — missing balance for a third of entities, "
    "re-cased name, no segment) merge per entity with the standard "
    "field-level rule: MOST RECENT NON-NULL WINS, ties broken by "
    "version priority — max_by over the key (rec_ts * 10 + version) "
    "NULLED OUT when the field is null, because max_by/arg_max skip "
    "rows whose ordering key is NULL on both engines (the same-named "
    "ignore-null contract, asserted by the oracle match). The MDM "
    "step after dedup: components decide WHICH rows are one entity; "
    "survivorship decides WHAT the merged row says. Shape: one "
    "entity-keyed hash-agg (the dedup keeper-election shape); "
    "field-level lineage would add one arg_max per field",
)
def er_survivorship(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer")
    v0 = c.select(
        F.col("c_custkey").alias("entity"),
        F.lit(0).alias("version"),
        (F.col("c_custkey") % 5).alias("rec_ts"),
        F.col("c_name").alias("name"),
        F.round(F.col("c_acctbal") * 100, 0).cast("bigint").alias(
            "bal_cents"
        ),
        F.col("c_mktsegment").alias("segment"),
    )
    v1 = c.select(
        F.col("c_custkey").alias("entity"),
        F.lit(1).alias("version"),
        (F.col("c_custkey") % 5 + 1).alias("rec_ts"),
        F.upper(F.col("c_name")).alias("name"),
        F.when(
            F.col("c_custkey") % 3 == 0, F.lit(None).cast("bigint")
        )
        .otherwise(
            F.round(F.col("c_acctbal") * 100, 0).cast("bigint") + 1000
        )
        .alias("bal_cents"),
        F.lit(None).cast("string").alias("segment"),
    )
    recs = v0.unionByName(v1)

    def pick(field: str):
        return F.expr(
            f"max_by({field}, CASE WHEN {field} IS NOT NULL"
            " THEN rec_ts * 10 + version END)"
        ).alias(field)

    golden = recs.groupBy("entity").agg(
        pick("name"),
        pick("bal_cents"),
        pick("segment"),
        F.count(F.lit(1)).cast("bigint").alias("n_records"),
    )
    return golden.filter(F.col("entity") % 10 == 0).select(
        F.col("entity").cast("bigint").alias("entity"),
        "name",
        F.col("bal_cents").cast("bigint").alias("bal_cents"),
        "segment",
        "n_records",
    )


# ---------------------------------------------------------------------------
# er_fuzzy_match
# ---------------------------------------------------------------------------

_FUZZY_SQL = """
    WITH keepers AS (
      -- C4 discipline: exact-identity dedup BEFORE pair enumeration.
      -- Identical (brand, name) rows are the same entity trivially —
      -- the exact-match stage of an ER pipeline resolves them with a
      -- hash-agg; only DISTINCT names reach the quadratic fuzzy stage
      SELECT min(p_partkey) AS p_partkey, p_brand, p_name,
             split_part(p_name, ' ', 1) AS tok1
      FROM part GROUP BY p_brand, p_name)
    SELECT a.p_brand,
           a.p_partkey AS key_a, b.p_partkey AS key_b,
           a.p_name AS name_a, b.p_name AS name_b,
           CAST(levenshtein(a.p_name, b.p_name) AS BIGINT) AS lev,
           CAST((greatest(length(a.p_name), length(b.p_name))
                 - levenshtein(a.p_name, b.p_name)) * 1000
                // greatest(length(a.p_name), length(b.p_name))
             AS BIGINT) AS sim_milli
    FROM keepers a JOIN keepers b
      ON a.p_brand = b.p_brand AND a.tok1 = b.tok1
     AND a.p_partkey < b.p_partkey
    WHERE levenshtein(a.p_name, b.p_name) <= 3
"""


@register(
    "er_fuzzy_match",
    _FUZZY_SQL,
    "blocked fuzzy entity matching over part names, C4-ORDERED: exact "
    "(brand, name) identities collapse to a min-key keeper in a "
    "hash-agg FIRST (the exact-match stage of every ER pipeline — and "
    "the discipline that keeps duplication free at scale), then only "
    "DISTINCT names reach the quadratic stage: blocking key = (brand, "
    "first name token), candidate pairs within a block scored by "
    "Levenshtein, matched at distance <= 3 with an integer milli "
    "similarity — the ER workhorse that feeds er_survivorship's merge "
    "step. Blocking is THE scale decision: it turns corpus all-pairs "
    "into block-local comparisons whose cost is sum of block-size^2 — "
    "the recall/cost knob er_blocking_stats measures (pairs differing "
    "in their first token are deliberately out of this key's scope). "
    "Shape: one dedup hash-agg, one shuffle on the blocking key, "
    "per-block pair enumeration, JVM-codegen levenshtein — no UDF",
)
def er_fuzzy_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = _t(spark, sf_dir, "part")
    blocked = part.groupBy("p_brand", "p_name").agg(
        F.min("p_partkey").alias("p_partkey")
    ).select(
        "p_partkey",
        "p_brand",
        "p_name",
        F.expr("split_part(p_name, ' ', 1)").alias("tok1"),
    )
    a = blocked.select(
        F.col("p_partkey").alias("key_a"),
        F.col("p_brand").alias("brand_a"),
        F.col("p_name").alias("name_a"),
        F.col("tok1").alias("tok1_a"),
    )
    b = blocked.select(
        F.col("p_partkey").alias("key_b"),
        F.col("p_brand").alias("brand_b"),
        F.col("p_name").alias("name_b"),
        F.col("tok1").alias("tok1_b"),
    )
    lev = F.levenshtein(F.col("name_a"), F.col("name_b"))
    maxlen = F.greatest(F.length("name_a"), F.length("name_b"))
    return (
        a.join(
            b,
            (F.col("brand_a") == F.col("brand_b"))
            & (F.col("tok1_a") == F.col("tok1_b"))
            & (F.col("key_a") < F.col("key_b")),
        )
        .filter(lev <= 3)
        .select(
            F.col("brand_a").alias("p_brand"),
            "key_a",
            "key_b",
            "name_a",
            "name_b",
            lev.cast("bigint").alias("lev"),
            F.expr(
                "CAST((greatest(length(name_a), length(name_b))"
                " - levenshtein(name_a, name_b)) * 1000"
                " div greatest(length(name_a), length(name_b))"
                " AS BIGINT)"
            ).alias("sim_milli"),
        )
    )


# ---------------------------------------------------------------------------
# er_blocking_stats
# ---------------------------------------------------------------------------

_BLOCKING_SQL = """
    WITH keyed AS (
      SELECT s.strategy, s.blk FROM part,
      LATERAL (VALUES
        ('brand', p_brand),
        ('tok1', split_part(p_name, ' ', 1)),
        ('brand_tok1', p_brand || '|' || split_part(p_name, ' ', 1)),
        ('size', CAST(p_size AS VARCHAR))) AS s(strategy, blk)),
    blocks AS (
      SELECT strategy, blk, CAST(count(*) AS BIGINT) AS c
      FROM keyed GROUP BY 1, 2)
    SELECT strategy,
           CAST(count(*) AS BIGINT) AS n_blocks,
           CAST(max(c) AS BIGINT) AS max_block,
           CAST(sum(c * (c - 1) // 2) AS BIGINT) AS candidate_pairs
    FROM blocks GROUP BY 1
"""


@register(
    "er_blocking_stats",
    _BLOCKING_SQL,
    "candidate-pair cost of four blocking strategies over part "
    "(brand, first name token, brand x token, size): blocks, largest "
    "block, and sum c*(c-1)/2 candidate pairs per strategy — THE "
    "planning query run before any fuzzy-match job (er_fuzzy_match's "
    "cost model). Blocking cost is quadratic in block size; this "
    "table is how the blocking key gets picked, and at 100 TB it is "
    "the difference between a tractable ER job and an all-pairs "
    "explosion. Shape: one fact scan exploded x4 into (strategy, "
    "key) rows -> two-level hash-agg; only block COUNTS are ever "
    "materialized, never the pairs themselves",
)
def er_blocking_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = _t(spark, sf_dir, "part")
    keyed = part.select(
        F.explode(
            F.array(
                F.struct(
                    F.lit("brand").alias("strategy"),
                    F.col("p_brand").alias("blk"),
                ),
                F.struct(
                    F.lit("tok1").alias("strategy"),
                    F.expr("split_part(p_name, ' ', 1)").alias("blk"),
                ),
                F.struct(
                    F.lit("brand_tok1").alias("strategy"),
                    F.concat(
                        F.col("p_brand"),
                        F.lit("|"),
                        F.expr("split_part(p_name, ' ', 1)"),
                    ).alias("blk"),
                ),
                F.struct(
                    F.lit("size").alias("strategy"),
                    F.col("p_size").cast("string").alias("blk"),
                ),
            )
        ).alias("s")
    ).select("s.strategy", "s.blk")
    blocks = keyed.groupBy("strategy", "blk").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    return blocks.groupBy("strategy").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_blocks"),
        F.max("c").cast("bigint").alias("max_block"),
        F.sum(F.expr("c * (c - 1) div 2")).cast("bigint").alias(
            "candidate_pairs"
        ),
    )


# ---------------------------------------------------------------------------
# er_blocking_recall
# ---------------------------------------------------------------------------

_BLOCKING_RECALL_SQL = """
    WITH keepers AS (
      SELECT min(p_partkey) AS p_partkey, p_brand, p_name,
             split_part(p_name, ' ', 1) AS tok1
      FROM part GROUP BY p_brand, p_name),
    truth AS (
      SELECT a.p_brand,
             CASE WHEN a.tok1 = b.tok1 THEN 1 ELSE 0 END AS found
      FROM keepers a JOIN keepers b
        ON a.p_brand = b.p_brand AND a.p_partkey < b.p_partkey
      WHERE levenshtein(a.p_name, b.p_name) <= 3)
    SELECT p_brand,
           CAST(count(*) AS BIGINT) AS n_truth,
           CAST(sum(found) AS BIGINT) AS n_found,
           CAST(sum(found) * 1000 // count(*) AS BIGINT) AS recall_milli
    FROM truth GROUP BY 1
"""


@register(
    "er_blocking_recall",
    _BLOCKING_RECALL_SQL,
    "recall of the production blocking key: ground truth = Levenshtein "
    "<= 3 keeper pairs under the COARSER brand-only blocking; found = "
    "those sharing er_fuzzy_match's (brand, first-token) key — the "
    "recall/cost tradeoff made a number, completing the ER trilogy "
    "(er_blocking_stats prices a key, er_fuzzy_match runs it, this "
    "measures what the cheaper key misses). Brands whose truth set is "
    "empty have no recall to report and produce no row. C4-ordered: "
    "exact (brand, name) identities collapse to keepers FIRST, so "
    "brand blocks are bounded by the name VOCABULARY, not the corpus "
    "— replicated rows never reach the pair stage. Shape: one dedup "
    "hash-agg, one brand-keyed block join over keeper names, one "
    "rollup",
)
def er_blocking_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = _t(spark, sf_dir, "part")
    keepers = part.groupBy("p_brand", "p_name").agg(
        F.min("p_partkey").alias("p_partkey")
    ).select(
        "p_partkey",
        "p_brand",
        "p_name",
        F.expr("split_part(p_name, ' ', 1)").alias("tok1"),
    )
    a = keepers.select(
        F.col("p_partkey").alias("key_a"),
        F.col("p_brand").alias("brand_a"),
        F.col("p_name").alias("name_a"),
        F.col("tok1").alias("tok1_a"),
    )
    b = keepers.select(
        F.col("p_partkey").alias("key_b"),
        F.col("p_brand").alias("brand_b"),
        F.col("p_name").alias("name_b"),
        F.col("tok1").alias("tok1_b"),
    )
    truth = (
        a.join(
            b,
            (F.col("brand_a") == F.col("brand_b"))
            & (F.col("key_a") < F.col("key_b")),
        )
        .filter(F.levenshtein(F.col("name_a"), F.col("name_b")) <= 3)
        .select(
            F.col("brand_a").alias("p_brand"),
            F.when(F.col("tok1_a") == F.col("tok1_b"), 1)
            .otherwise(0)
            .alias("found"),
        )
    )
    return truth.groupBy("p_brand").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_truth"),
        F.sum("found").cast("bigint").alias("n_found"),
        F.expr("CAST(sum(found) * 1000 div count(*) AS BIGINT)").alias(
            "recall_milli"
        ),
    )


# ---------------------------------------------------------------------------
# er_pairwise_f1
# ---------------------------------------------------------------------------

_PAIRWISE_F1_SQL = """
    WITH keepers AS (
      SELECT min(p_partkey) AS p_partkey, p_brand, p_name,
             split_part(p_name, ' ', 1) AS tok1
      FROM part GROUP BY p_brand, p_name),
    cand AS MATERIALIZED (
      SELECT a.p_partkey AS key_a, b.p_partkey AS key_b,
             CASE WHEN a.tok1 = b.tok1 THEN 1 ELSE 0 END AS pred,
             CASE WHEN levenshtein(a.p_name, b.p_name) <= 3
                  THEN 1 ELSE 0 END AS truth
      FROM keepers a JOIN keepers b
        ON a.p_brand = b.p_brand AND a.p_partkey < b.p_partkey),
    sums AS (
      SELECT CAST(sum(pred) AS BIGINT) AS n_pred,
             CAST(sum(truth) AS BIGINT) AS n_truth,
             CAST(sum(pred * truth) AS BIGINT) AS n_common
      FROM cand)
    SELECT n_pred, n_truth, n_common,
           CAST(CASE WHEN n_pred = 0 THEN 0
                ELSE n_common * 1000 // n_pred END AS BIGINT)
             AS precision_milli,
           CAST(CASE WHEN n_truth = 0 THEN 0
                ELSE n_common * 1000 // n_truth END AS BIGINT)
             AS recall_milli,
           CAST(CASE WHEN n_pred + n_truth = 0 THEN 0
                ELSE 2 * n_common * 1000 // (n_pred + n_truth) END
                AS BIGINT) AS f1_milli
    FROM sums
"""


@register(
    "er_pairwise_f1",
    _PAIRWISE_F1_SQL,
    "pairwise precision / recall / F1 of the production blocking key's "
    "match pairs — pred = keeper pairs sharing er_fuzzy_match's "
    "(brand, first-token) key, truth = Levenshtein <= 3 pairs under "
    "brand blocking — the standard pairwise scalarization of an ER "
    "run, completing the trilogy's eval (er_blocking_recall reports "
    "per-brand recall; this is the global one-row summary WITH "
    "precision, which recall alone cannot see: a key that lumps "
    "everything scores perfect recall and garbage precision). EXACT: "
    "F1 = 2PR/(P+R) collapses algebraically to 2*|common| / (|pred| + "
    "|truth|), one integer ratio — float P and R are never computed. "
    "C4-ordered: exact (brand, name) identities collapse to keepers "
    "FIRST, so brand blocks are bounded by the name VOCABULARY; both "
    "pair sets come from ONE block enumeration (single shuffle on the "
    "brand key, flags summed in the same pass)",
)
def er_pairwise_f1(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = _t(spark, sf_dir, "part")
    keepers = (
        part.groupBy("p_brand", "p_name")
        .agg(F.min("p_partkey").alias("p_partkey"))
        .select(
            "p_partkey",
            "p_brand",
            "p_name",
            F.expr("split_part(p_name, ' ', 1)").alias("tok1"),
        )
    )
    a = keepers.select(
        F.col("p_partkey").alias("key_a"),
        F.col("p_brand").alias("brand_a"),
        F.col("p_name").alias("name_a"),
        F.col("tok1").alias("tok1_a"),
    )
    b = keepers.select(
        F.col("p_partkey").alias("key_b"),
        F.col("p_brand").alias("brand_b"),
        F.col("p_name").alias("name_b"),
        F.col("tok1").alias("tok1_b"),
    )
    cand = a.join(
        b,
        (F.col("brand_a") == F.col("brand_b"))
        & (F.col("key_a") < F.col("key_b")),
    ).select(
        F.when(F.col("tok1_a") == F.col("tok1_b"), 1)
        .otherwise(0)
        .alias("pred"),
        F.when(
            F.levenshtein(F.col("name_a"), F.col("name_b")) <= 3, 1
        )
        .otherwise(0)
        .alias("truth"),
    )
    sums = cand.agg(
        F.sum("pred").cast("bigint").alias("n_pred"),
        F.sum("truth").cast("bigint").alias("n_truth"),
        F.sum(F.col("pred") * F.col("truth"))
        .cast("bigint")
        .alias("n_common"),
    )
    return sums.select(
        "n_pred",
        "n_truth",
        "n_common",
        F.expr(
            "CAST(CASE WHEN n_pred = 0 THEN 0"
            " ELSE n_common * 1000 div n_pred END AS BIGINT)"
        ).alias("precision_milli"),
        F.expr(
            "CAST(CASE WHEN n_truth = 0 THEN 0"
            " ELSE n_common * 1000 div n_truth END AS BIGINT)"
        ).alias("recall_milli"),
        F.expr(
            "CAST(CASE WHEN n_pred + n_truth = 0 THEN 0"
            " ELSE 2 * n_common * 1000 div (n_pred + n_truth) END"
            " AS BIGINT)"
        ).alias("f1_milli"),
    )


# ---------------------------------------------------------------------------
# er_threshold_sweep
# ---------------------------------------------------------------------------

_ER_SWEEP_SQL = """
    WITH keepers AS (
      SELECT min(p_partkey) AS p_partkey, p_brand, p_name,
             split_part(p_name, ' ', 1) AS tok1
      FROM part GROUP BY p_brand, p_name),
    cand AS (
      SELECT
        CAST((greatest(length(a.p_name), length(b.p_name))
              - levenshtein(a.p_name, b.p_name)) * 1000
             // greatest(length(a.p_name), length(b.p_name)) AS BIGINT)
          AS score_milli,
        CASE WHEN levenshtein(a.p_name, b.p_name) <= 3
          THEN 1 ELSE 0 END AS truth
      FROM keepers a JOIN keepers b
        ON a.p_brand = b.p_brand AND a.p_partkey < b.p_partkey),
    ths AS (SELECT unnest([600, 700, 800, 900, 950]) AS thresh),
    sums AS (
      SELECT t.thresh,
             CAST(sum(CASE WHEN c.score_milli >= t.thresh AND c.truth = 1
               THEN 1 ELSE 0 END) AS BIGINT) AS tp,
             CAST(sum(CASE WHEN c.score_milli >= t.thresh AND c.truth = 0
               THEN 1 ELSE 0 END) AS BIGINT) AS fp,
             CAST(sum(CASE WHEN c.score_milli < t.thresh AND c.truth = 1
               THEN 1 ELSE 0 END) AS BIGINT) AS fn
      FROM cand c CROSS JOIN ths t
      GROUP BY 1)
    SELECT CAST(thresh AS BIGINT) AS thresh, tp, fp, fn,
           CAST(CASE WHEN tp + fp = 0 THEN 0
             ELSE tp * 1000 // (tp + fp) END AS BIGINT) AS prec_milli,
           CAST(CASE WHEN tp + fn = 0 THEN 0
             ELSE tp * 1000 // (tp + fn) END AS BIGINT) AS rec_milli,
           CAST(CASE WHEN 2 * tp + fp + fn = 0 THEN 0
             ELSE 2 * tp * 1000 // (2 * tp + fp + fn) END AS BIGINT)
             AS f1_milli
    FROM sums
"""


@register(
    "er_threshold_sweep",
    _ER_SWEEP_SQL,
    "fuzzy-match operating-point sweep: precision/recall/F1 at five "
    "score thresholds (600-950 milli) over the C4-ordered "
    "brand-blocked keeper pairs, score = normalized Levenshtein "
    "similarity (maxlen - lev) * 1000 div maxlen, truth = the ER "
    "family's lev <= 3 rule — er_pairwise_f1 grades the ONE shipped "
    "operating point (the tok1 blocking key); this is the tuning "
    "curve that picks a score cut, the ER twin of ml_cost_threshold's "
    "sweep. EXACT: F1 = 2tp div (2tp + fp + fn), one integer ratio "
    "per threshold, no float P or R ever computed. Shape: the blocked "
    "pair table is built once (exact identities collapse to keepers "
    "FIRST, blocks bounded by the brand vocabulary), fanned by a "
    "broadcast 5-row threshold dim, then a 5-row hash-agg",
)
def er_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = _t(spark, sf_dir, "part")
    keepers = (
        part.groupBy("p_brand", "p_name")
        .agg(F.min("p_partkey").alias("p_partkey"))
        .select("p_partkey", "p_brand", "p_name")
    )
    a = keepers.select(
        F.col("p_partkey").alias("key_a"),
        F.col("p_brand").alias("brand_a"),
        F.col("p_name").alias("name_a"),
    )
    b = keepers.select(
        F.col("p_partkey").alias("key_b"),
        F.col("p_brand").alias("brand_b"),
        F.col("p_name").alias("name_b"),
    )
    lev = F.levenshtein(F.col("name_a"), F.col("name_b"))
    maxlen = F.greatest(F.length("name_a"), F.length("name_b"))
    cand = a.join(
        b,
        (F.col("brand_a") == F.col("brand_b"))
        & (F.col("key_a") < F.col("key_b")),
    ).select(
        F.expr(
            "CAST((greatest(length(name_a), length(name_b))"
            " - levenshtein(name_a, name_b)) * 1000"
            " div greatest(length(name_a), length(name_b)) AS BIGINT)"
        ).alias("score_milli"),
        F.when(lev <= 3, 1).otherwise(0).alias("truth"),
    )
    ths = F.broadcast(
        spark.createDataFrame(
            [(600,), (700,), (800,), (900,), (950,)], "thresh bigint"
        )
    )
    sums = cand.crossJoin(ths).groupBy("thresh").agg(
        F.sum(
            F.when(
                (F.col("score_milli") >= F.col("thresh"))
                & (F.col("truth") == 1),
                1,
            ).otherwise(0)
        )
        .cast("bigint")
        .alias("tp"),
        F.sum(
            F.when(
                (F.col("score_milli") >= F.col("thresh"))
                & (F.col("truth") == 0),
                1,
            ).otherwise(0)
        )
        .cast("bigint")
        .alias("fp"),
        F.sum(
            F.when(
                (F.col("score_milli") < F.col("thresh"))
                & (F.col("truth") == 1),
                1,
            ).otherwise(0)
        )
        .cast("bigint")
        .alias("fn"),
    )
    return sums.select(
        "thresh",
        "tp",
        "fp",
        "fn",
        F.expr(
            "CAST(CASE WHEN tp + fp = 0 THEN 0"
            " ELSE tp * 1000 div (tp + fp) END AS BIGINT)"
        ).alias("prec_milli"),
        F.expr(
            "CAST(CASE WHEN tp + fn = 0 THEN 0"
            " ELSE tp * 1000 div (tp + fn) END AS BIGINT)"
        ).alias("rec_milli"),
        F.expr(
            "CAST(CASE WHEN 2 * tp + fp + fn = 0 THEN 0"
            " ELSE 2 * tp * 1000 div (2 * tp + fp + fn) END AS BIGINT)"
        ).alias("f1_milli"),
    )
