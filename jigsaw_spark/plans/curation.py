"""Curation queries (``curation_*``): importance resampling, quality gates,
soft-dedup weights and cluster-level curation audits.

DSIR log-ratios snap to integer micro-units per bucket (one libm call each,
identical derivation in both engines), so per-doc weights are exact integer
sums. The gate battery is a map-only projection; its flags are shared with
the p family.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from jigsaw_spark.operators.text import (
    alnum_ratio_expr,
    alnum_ratio_sql,
    fingerprint_expr,
    fingerprint_sql,
    lang_hits_expr,
    lang_hits_sql,
    lang_predict_expr,
    lang_predict_sql,
    tokens_expr,
    tokens_sql,
)
from jigsaw_spark.plans.dedup import (
    _KEEPER_EDGES_CTE,
    _PRE_SQL,
    _TOKS_CTE,
    _keeper_cluster_sql,
    _pre_lines,
)
from jigsaw_spark.plans.ml import ml_nbayes_classify
from jigsaw_spark.plans.registry import _t, register
from jigsaw_spark.plans.text import text_kneser_ney


@register(
    "curation_pipeline",
    f"""
    WITH {_TOKS_CTE},
    scored AS (
      SELECT d.doc_id, d.source, d.n_chars, t.t,
             {alnum_ratio_sql('d.text')} AS alnum,
             CAST({lang_hits_sql('t.t', 'en')} AS INT) AS en_hits,
             CAST({lang_hits_sql('t.t', 'es')} AS INT) AS es_hits,
             CAST({lang_hits_sql('t.t', 'fr')} AS INT) AS fr_hits
      FROM documents d JOIN toks t ON d.doc_id = t.doc_id),
    kept AS (
      SELECT doc_id, source, n_chars, t FROM scored
      WHERE len(t) >= 20 AND alnum >= 0.5
        AND {lang_predict_sql('en_hits', 'es_hits', 'fr_hits')} = 'en'),
    fp AS (SELECT doc_id, source, n_chars, {fingerprint_sql('t')} AS fp FROM kept),
    keepers AS (
      SELECT * FROM (
        SELECT doc_id, source, n_chars,
               min(doc_id) OVER (PARTITION BY fp) AS keeper
        FROM fp) t
      WHERE doc_id = keeper)
    SELECT source, count(*) AS n_docs,
           round(avg(n_chars), 2) AS avg_chars
    FROM keepers GROUP BY source
    """,
    "end-to-end corpus curation: quality gates (length, alnum ratio) → "
    "language filter → exact-dedup keeper selection → per-source stats; "
    "every stage is a pushdown-friendly projection/filter + one window",
)
def curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    from jigsaw_spark.operators.text import (
        alnum_ratio_expr,
        lang_hits_expr,
        lang_predict_expr,
    )

    docs = _t(spark, sf_dir, "documents").withColumn("t", tokens_expr("text"))
    scored = docs.select(
        "doc_id",
        "source",
        "n_chars",
        "t",
        alnum_ratio_expr("text").alias("alnum"),
        lang_hits_expr("t", "en").alias("en_hits"),
        lang_hits_expr("t", "es").alias("es_hits"),
        lang_hits_expr("t", "fr").alias("fr_hits"),
    )
    kept = scored.filter(
        (F.size("t") >= 20)
        & (F.col("alnum") >= 0.5)
        & (
            lang_predict_expr(
                F.col("en_hits"), F.col("es_hits"), F.col("fr_hits")
            )
            == "en"
        )
    )
    from pyspark.sql.window import Window

    fp = kept.withColumn("fp", fingerprint_expr("t"))
    keepers = fp.withColumn(
        "keeper", F.min("doc_id").over(Window.partitionBy("fp"))
    ).filter(F.col("doc_id") == F.col("keeper"))
    return keepers.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.round(F.avg("n_chars"), 2).alias("avg_chars"),
    )


@register(
    "curation_pipeline_v2",
    f"""
    WITH {_PRE_SQL},
    lines AS (
      SELECT doc_id,
             generate_subscripts(string_split(ltext, chr(10)), 1) AS idx,
             unnest(string_split(ltext, chr(10))) AS line
      FROM pre
    ), dup AS (
      SELECT fp FROM (
        SELECT DISTINCT doc_id, md5(trim(line)) AS fp FROM lines) t
      GROUP BY fp HAVING count(*) >= 2
    ), cleaned AS (
      SELECT doc_id,
             string_agg(line, chr(10) ORDER BY idx) AS clean_text
      FROM lines
      WHERE md5(trim(line)) NOT IN (SELECT fp FROM dup)
      GROUP BY doc_id
    ), ch AS (
      SELECT doc_id,
             unnest(list_transform(range(1, length(clean_text) + 1),
                                   i -> clean_text[i])) AS ch
      FROM cleaned
    ), counts AS (
      SELECT doc_id, ch, count(*) AS c FROM ch GROUP BY doc_id, ch
    ), ent AS (
      SELECT doc_id,
             round(ln(CAST(sum(c) AS DOUBLE))
                   - sum(CAST(c AS DOUBLE) * ln(c)) / CAST(sum(c) AS DOUBLE),
                   4) AS entropy
      FROM counts GROUP BY doc_id
    )
    SELECT d.source,
           count(*) AS n_docs_kept,
           round(avg(e.entropy), 3) AS avg_entropy
    FROM ent e JOIN documents d USING (doc_id)
    WHERE e.entropy > 2.0
    GROUP BY d.source
    """,
    "round-4 curation composite: line-level dedup -> char-entropy gate "
    "-> per-source retention report; every stage is the production "
    "operator, chained lazily — dedup's fp agg, entropy's two aggs, a "
    "doc_id-keyed join back to source",
)
def curation_pipeline_v2(spark: SparkSession, sf_dir: str) -> DataFrame:
    from jigsaw_spark.operators.dedup import dedup_lines
    from jigsaw_spark.operators.text import char_entropy

    docs = _t(spark, sf_dir, "documents")
    cleaned = dedup_lines(_pre_lines(docs), "doc_id", "ltext", "\n", 2)
    ent = char_entropy(
        cleaned.select("doc_id", F.col("clean_text").alias("text")), "doc_id"
    ).select("doc_id", F.col("entropy_nats").alias("entropy"))
    kept = ent.filter(F.col("entropy") > 2.0)
    return (
        # the (doc_id, source) side is corpus-sized — shuffle join on the
        # key, NOT a broadcast (AQE may still choose one at small SF)
        kept.join(docs.select("doc_id", "source"), "doc_id")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs_kept"),
            F.round(F.avg("entropy"), 3).alias("avg_entropy"),
        )
    )


_DSIR_B = 4096  # hashed-feature buckets


# DuckDB twin of the Spark-side gram->bucket pipeline (unigrams + word
# bigrams, md5-hashed into _DSIR_B buckets). Shared by both DSIR queries.
_DSIR_CTE = f"""
    toks AS (
      SELECT doc_id, CAST(lang = 'en' AS INT) AS is_target,
             {tokens_sql('text')} AS t
      FROM documents),
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
    per_doc AS (
      SELECT doc_id, bucket, count(*) AS c, max(is_target) AS is_target
      FROM bucketed GROUP BY doc_id, bucket),
    dist AS (
      SELECT bucket,
             sum(CASE WHEN is_target = 1 THEN c ELSE 0 END) AS tgt,
             sum(c) AS raw
      FROM per_doc GROUP BY bucket),
    tot AS (SELECT sum(tgt) AS T, sum(raw) AS R FROM dist),
    ratio AS (
      SELECT bucket,
             CAST(round((ln(CAST(tgt + 1 AS DOUBLE) / (T + {_DSIR_B}))
                       - ln(CAST(raw + 1 AS DOUBLE) / (R + {_DSIR_B})))
                        * 1e6) AS BIGINT) AS r_micro
      FROM dist CROSS JOIN tot),
    weights AS (
      SELECT doc_id,
             CAST(sum(c) AS BIGINT) AS n_grams,
             CAST(sum(c * r_micro) AS BIGINT) AS logw_micro
      FROM per_doc JOIN ratio USING (bucket)
      GROUP BY doc_id)
"""


@register(
    "curation_dsir_weights",
    f"""
    WITH {_DSIR_CTE}
    SELECT doc_id, n_grams, logw_micro,
           round(logw_micro / 1e6, 6) AS logw
    FROM weights
    """,
    "DSIR importance weights (Xie et al. 2023): hashed unigram+bigram "
    "bucket counts, target(lang=en)-vs-raw Laplace-smoothed log-ratio "
    "per bucket snapped to integer micro-units (one libm call per "
    "bucket, never per doc), per-doc weight an EXACT integer sum. ONE "
    "gram explode + (doc,bucket) hash agg; the bucket distribution "
    "aggregates from the SAME partials into a 4096-row broadcast dim — "
    "no second corpus scan, no self-join, linear at any scale",
)
def curation_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    from jigsaw_spark.operators.samples import dsir_weights

    docs = _t(spark, sf_dir, "documents")
    w = dsir_weights(docs, "doc_id", F.col("lang") == "en", buckets=_DSIR_B)
    return w.select(
        "doc_id",
        "n_grams",
        "logw_micro",
        F.round(F.col("logw_micro") / 1e6, 6).alias("logw"),
    )


# ---------------------------------------------------------------------------
# curation_pipeline_v3
# ---------------------------------------------------------------------------

_V3_NB_B = 4096

_V3_KN_FLOOR = -8_000_000  # micro-units: avg bigram logP >= -8.0


def _v3_sql() -> str:
    from jigsaw_spark.operators.text import fingerprint_sql, tokens_sql

    return f"""
    WITH toks AS MATERIALIZED (
      SELECT doc_id, {tokens_sql('text')} AS t FROM documents),
    -- Naive Bayes stage (fit even docs, score odd): hashed-gram LLR
    grams AS (
      SELECT x.doc_id, unnest(x.t) AS gram FROM toks x
      UNION ALL
      SELECT x.doc_id, x.t[i] || ' ' || x.t[i+1] AS gram
      FROM toks x, LATERAL (SELECT unnest(range(1, len(x.t))) AS i) ii
      WHERE len(x.t) >= 2),
    bucketed AS MATERIALIZED (
      SELECT g.doc_id, d.lang = 'en' AS is_en,
             ('0x' || substr(md5(g.gram), 1, 12))::UBIGINT % {_V3_NB_B}
               AS bucket
      FROM grams g JOIN documents d ON g.doc_id = d.doc_id),
    nb_fit AS MATERIALIZED (
      SELECT bucket,
             sum(CASE WHEN is_en THEN 1 ELSE 0 END) AS ce,
             sum(CASE WHEN is_en THEN 0 ELSE 1 END) AS co
      FROM bucketed WHERE doc_id % 2 = 0 GROUP BY bucket),
    nb_tot AS MATERIALIZED (
      SELECT sum(ce) AS te, sum(co) AS tco,
             (SELECT sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END)
              FROM documents WHERE doc_id % 2 = 0) AS ne,
             (SELECT sum(CASE WHEN lang = 'en' THEN 0 ELSE 1 END)
              FROM documents WHERE doc_id % 2 = 0) AS no
      FROM nb_fit),
    llr AS MATERIALIZED (
      SELECT f.bucket,
             CAST(round((ln((f.ce + 1.0) / (t.te + {_V3_NB_B}))
                       - ln((f.co + 1.0) / (t.tco + {_V3_NB_B}))) * 1e6)
                  AS BIGINT) AS llr_micro
      FROM nb_fit f CROSS JOIN nb_tot t),
    nb_doc AS MATERIALIZED (
      SELECT s.doc_id,
             CAST(sum(coalesce(l.llr_micro, 0))
                  + (SELECT CAST(round((ln(ne + 1.0) - ln(no + 1.0)) * 1e6)
                              AS BIGINT) FROM nb_tot)
                  AS BIGINT) AS nb_micro
      FROM (SELECT doc_id, bucket FROM bucketed WHERE doc_id % 2 = 1) s
      LEFT JOIN llr l ON s.bucket = l.bucket
      GROUP BY s.doc_id),
    -- Kneser-Ney stage (fit even docs, score odd)
    fit_bg AS (
      SELECT x.t[i] AS w1, x.t[i+1] AS w2
      FROM toks x, LATERAL (SELECT unnest(range(1, len(x.t))) AS i) ii
      WHERE x.doc_id % 2 = 0 AND len(x.t) >= 2),
    big AS MATERIALIZED (
      SELECT w1, w2, count(*) AS c12 FROM fit_bg GROUP BY w1, w2),
    w1s AS MATERIALIZED (
      SELECT w1, sum(c12) AS c1, count(*) AS n1p FROM big GROUP BY w1),
    w2c AS MATERIALIZED (
      SELECT w2, count(*) AS nd FROM big GROUP BY w2),
    kn_tot AS MATERIALIZED (
      SELECT (SELECT count(*) FROM big) AS tt,
             (SELECT count(DISTINCT w1) FROM (
                SELECT w1 FROM big UNION ALL SELECT w2 FROM big) u(w1))
               AS v),
    sc_bg AS (
      SELECT x.doc_id, x.t[i] AS w1, x.t[i+1] AS w2
      FROM toks x, LATERAL (SELECT unnest(range(1, len(x.t))) AS i) ii
      WHERE x.doc_id % 2 = 1 AND len(x.t) >= 2),
    kn_doc AS MATERIALIZED (
      SELECT s.doc_id,
             CAST(count(*) AS BIGINT) AS n_bigrams,
             CAST(sum(CAST(round(ln(
               CASE WHEN w1s.c1 IS NULL
                 THEN (coalesce(w2c.nd, 0) + 1.0) / (kt.tt + kt.v)
                 ELSE greatest(4 * coalesce(big.c12, 0) - 3, 0)
                        / (4.0 * w1s.c1)
                      + (3.0 * w1s.n1p) / (4.0 * w1s.c1)
                        * ((coalesce(w2c.nd, 0) + 1.0) / (kt.tt + kt.v))
               END) * 1e6) AS BIGINT)) AS BIGINT) AS kn_micro
      FROM sc_bg s
      LEFT JOIN big ON s.w1 = big.w1 AND s.w2 = big.w2
      LEFT JOIN w1s ON s.w1 = w1s.w1
      LEFT JOIN w2c ON s.w2 = w2c.w2
      CROSS JOIN kn_tot kt
      GROUP BY s.doc_id),
    -- gate (all-integer), dedup keepers, stratified fold
    survivors AS MATERIALIZED (
      SELECT d.doc_id, d.source, d.lang, d.n_chars
      FROM documents d
      JOIN nb_doc nb ON d.doc_id = nb.doc_id
      JOIN kn_doc kn ON d.doc_id = kn.doc_id
      WHERE d.doc_id % 2 = 1
        AND nb.nb_micro > 0
        AND kn.kn_micro >= {_V3_KN_FLOOR} * kn.n_bigrams),
    fp AS (
      SELECT s.doc_id, s.source, s.lang, s.n_chars,
             {fingerprint_sql('x.t')} AS fp
      FROM survivors s JOIN toks x ON s.doc_id = x.doc_id),
    kept AS MATERIALIZED (
      SELECT doc_id, source, lang, n_chars
      FROM (SELECT *, min(doc_id) OVER (PARTITION BY fp) AS keeper FROM fp)
      WHERE doc_id = keeper),
    folded AS (
      SELECT source, lang, n_chars,
             CAST((row_number() OVER (
                     PARTITION BY lang
                     ORDER BY md5('skfold|' || CAST(doc_id AS VARCHAR)),
                              doc_id) - 1) % 5 AS INT) AS fold
      FROM kept),
    odd_totals AS (
      SELECT source, count(*) AS odd_n FROM documents
      WHERE doc_id % 2 = 1 GROUP BY source)
    SELECT f.source, f.fold,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(f.n_chars) AS BIGINT) AS n_chars,
           round(CAST(sum(count(*)) OVER (PARTITION BY f.source) AS DOUBLE)
                 / max(ot.odd_n), 6) AS source_retention
    FROM folded f JOIN odd_totals ot ON f.source = ot.source
    GROUP BY f.source, f.fold
"""


@register(
    "curation_pipeline_v3",
    _v3_sql(),
    "round-5 curation composite — every stage the production operator, "
    "chained lazily: (1) Naive Bayes domain gate (hashed-gram LLR + "
    "prior, integer micro-units, fit on the historical/even half), "
    "(2) Kneser-Ney perplexity floor (avg bigram logP >= -8, enforced "
    "as the INTEGER inequality kn_micro >= floor*n so no float enters "
    "the gate), (3) exact-dedup keeper selection on the survivors, "
    "(4) stratified 5-fold assignment (partitioned rank window), "
    "(5) per-(source, fold) export counts with per-source retention. "
    "One corpus tokenization feeds every stage; the fold window runs "
    "on the kept set only",
)
def curation_pipeline_v3(spark: SparkSession, sf_dir: str) -> DataFrame:
    from jigsaw_spark.functions.hashing import md5_key
    from jigsaw_spark.operators.dedup import exact_dedup

    docs = _t(spark, sf_dir, "documents")
    nb = ml_nbayes_classify(spark, sf_dir).select(
        "doc_id", F.col("score_micro").alias("nb_micro")
    )
    kn = text_kneser_ney(spark, sf_dir).select(
        "doc_id", F.col("logp_micro").alias("kn_micro"), "n_bigrams"
    )
    survivors = (
        docs.filter(F.col("doc_id") % 2 == 1)
        .join(nb, "doc_id")
        .join(kn, "doc_id")
        .filter(
            (F.col("nb_micro") > 0)
            & (F.col("kn_micro") >= _V3_KN_FLOOR * F.col("n_bigrams"))
        )
        .select("doc_id", "text", "source", "lang", "n_chars")
    )
    kept = (
        exact_dedup(survivors, "doc_id")
        .filter(~F.col("is_dup"))
        .select("doc_id", "source", "lang", "n_chars")
    )
    w = Window.partitionBy("lang").orderBy(
        md5_key(F.col("doc_id"), seed="skfold"), "doc_id"
    )
    folded = kept.select(
        "source",
        "n_chars",
        ((F.row_number().over(w) - 1) % 5).cast("int").alias("fold"),
    )
    odd_totals = (
        docs.filter(F.col("doc_id") % 2 == 1)
        .groupBy("source")
        .agg(F.count(F.lit(1)).alias("odd_n"))
    )
    per_fold = folded.groupBy("source", "fold").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("n_chars").cast("bigint").alias("n_chars"),
    )
    return (
        per_fold.join(F.broadcast(odd_totals), "source")
        .select(
            "source",
            "fold",
            "n_docs",
            "n_chars",
            F.round(
                F.sum("n_docs").over(Window.partitionBy("source")).cast(
                    "double"
                )
                / F.col("odd_n"),
                6,
            ).alias("source_retention"),
        )
    )


@register(
    "curation_soft_dedup_weights",
    _keeper_cluster_sql()
    + """
    SELECT a.doc_id,
           CAST(a.keeper AS BIGINT) AS keeper,
           CAST(c.cluster_size AS BIGINT) AS cluster_size,
           CAST(1000000 // c.cluster_size AS BIGINT) AS weight_micro
    FROM assigned a JOIN clusters c ON a.keeper = c.keeper
    """,
    "SoftDeDup: weight every document by 1/|near-dup cluster| (integer "
    "micro-units) instead of dropping duplicates — total cluster mass "
    "stays ~constant, so duplicated content stops dominating the "
    "training mix without the recall risk of hard removal. Clusters "
    "come from the C4-ordered keeper mapping (exact dedup -> SimHash "
    "components over keepers, result-identical to the all-docs graph); "
    "after it, ONE keeper-keyed count + ONE join back. The weights "
    "feed the same weighted samplers as DSIR (p_weighted_sample)",
)
def curation_soft_dedup_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    from jigsaw_spark.operators.dedup import near_dup_keepers

    docs = _t(spark, sf_dir, "documents")
    assigned = near_dup_keepers(docs, "doc_id")
    clusters = assigned.groupBy("keeper").agg(
        F.count(F.lit(1)).alias("cluster_size")
    )
    return assigned.join(clusters, "keeper").select(
        "doc_id",
        F.col("keeper").cast("bigint").alias("keeper"),
        F.col("cluster_size").cast("bigint").alias("cluster_size"),
        F.expr("1000000 div cluster_size").cast("bigint").alias(
            "weight_micro"
        ),
    )


# ---------------------------------------------------------------------------
# curation_pipeline_v4
# ---------------------------------------------------------------------------

_V4_REP_MAX = 500_000  # repetition_micro below this

_V4_NOV_MIN = 200_000  # novelty_micro at or above this

_V4_LEN_MIN = 200  # n_chars at or above this


def _pipeline_v4_sql() -> str:
    from jigsaw_spark.operators.text import tokens_sql

    return f"""
    WITH toks AS (SELECT doc_id, {tokens_sql('text')} AS t FROM documents),
    sh AS MATERIALIZED (
      SELECT DISTINCT doc_id,
             unnest(list_transform(range(1, len(t) - 1),
                    i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS shingle
      FROM toks WHERE len(t) >= 3),
    firsts AS (SELECT shingle, min(doc_id) AS fd FROM sh GROUP BY shingle),
    nov AS MATERIALIZED (
      SELECT s.doc_id,
             sum(CASE WHEN f.fd = s.doc_id THEN 1 ELSE 0 END) * 1000000
               // count(*) AS novelty_micro
      FROM sh s JOIN firsts f ON s.shingle = f.shingle
      GROUP BY s.doc_id),
    shn AS (
      SELECT doc_id,
             unnest(list_transform(range(1, len(t) - 1),
                    i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS shingle
      FROM toks WHERE len(t) >= 3),
    cnt AS (SELECT doc_id, shingle, count(*) AS c FROM shn GROUP BY 1, 2),
    rep AS MATERIALIZED (
      SELECT doc_id, max(c) * 1000000 // sum(c) AS repetition_micro
      FROM cnt GROUP BY doc_id),
    decided AS (
      SELECT d.doc_id, d.source,
             CASE WHEN r.repetition_micro < {_V4_REP_MAX}
                   AND n.novelty_micro >= {_V4_NOV_MIN}
                   AND d.n_chars >= {_V4_LEN_MIN}
                  THEN 1 ELSE 0 END AS kept,
             n.novelty_micro
      FROM documents d
      JOIN rep r ON d.doc_id = r.doc_id
      JOIN nov n ON d.doc_id = n.doc_id)
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(kept) AS BIGINT) AS n_kept,
           CAST(sum(kept) * 1000000 // count(*) AS BIGINT) AS keep_micro,
           CAST(CASE WHEN sum(kept) > 0
                     THEN sum(CASE WHEN kept = 1 THEN novelty_micro
                                   ELSE 0 END) // sum(kept)
                     ELSE -1 END AS BIGINT) AS kept_novelty_micro
    FROM decided GROUP BY source
"""


@register(
    "curation_pipeline_v4",
    _pipeline_v4_sql(),
    "curation pipeline v4: the round-6 signals composed into per-source "
    "keep decisions — keep iff repetition_micro < 0.5e6 (no degenerate "
    "loops) AND novelty_micro >= 0.2e6 (not a restatement of earlier "
    "corpus) AND n_chars >= 200; report keep rates and mean kept "
    "novelty per source. Docs too short to shingle are dropped by "
    "construction (no trigram evidence = no keep decision), matching "
    "the oracle's join semantics. One shingle explode feeds BOTH "
    "signals; integer micro ratios throughout",
)
def curation_pipeline_v4(spark: SparkSession, sf_dir: str) -> DataFrame:
    from jigsaw_spark.operators.text import shingles_expr, tokens_expr

    docs = _t(spark, sf_dir, "documents")
    # BOTH signals come from one shingle explode: the per-(doc, shingle)
    # occurrence counts serve repetition directly AND collapse to the
    # distinct relation novelty needs — localCheckpoint materializes the
    # counts once instead of re-running the explode per signal (the
    # naive compose-two-registered-queries form measured 11.4s at sf0.1;
    # this one ~3s, same results)
    cnt = (
        docs.repartition(spark.sparkContext.defaultParallelism)
        .select(
            "doc_id",
            F.explode(shingles_expr(tokens_expr("text"))).alias("shingle"),
        )
        .groupBy("doc_id", "shingle")
        .agg(F.count(F.lit(1)).alias("c"))
        .localCheckpoint()
    )
    rep = cnt.groupBy("doc_id").agg(
        F.expr("CAST(max(c) * 1000000 div sum(c) AS BIGINT)").alias(
            "repetition_micro"
        )
    )
    firsts = cnt.groupBy("shingle").agg(F.min("doc_id").alias("first_doc"))
    nov = (
        cnt.join(firsts, "shingle")
        .groupBy("doc_id")
        .agg(
            F.expr(
                "CAST(sum(CASE WHEN first_doc = doc_id THEN 1 ELSE 0 END)"
                " * 1000000 div count(*) AS BIGINT)"
            ).alias("novelty_micro")
        )
    )
    decided = (
        docs.select("doc_id", "source", "n_chars")
        .join(rep, "doc_id")
        .join(nov, "doc_id")
        .select(
            "source",
            "novelty_micro",
            F.when(
                (F.col("repetition_micro") < _V4_REP_MAX)
                & (F.col("novelty_micro") >= _V4_NOV_MIN)
                & (F.col("n_chars") >= _V4_LEN_MIN),
                1,
            )
            .otherwise(0)
            .alias("kept"),
        )
    )
    return decided.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("kept").cast("bigint").alias("n_kept"),
        F.expr("CAST(sum(kept) * 1000000 div count(*) AS BIGINT)").alias(
            "keep_micro"
        ),
        F.expr(
            "CAST(CASE WHEN sum(kept) > 0 THEN "
            "sum(CASE WHEN kept = 1 THEN novelty_micro ELSE 0 END) "
            "div sum(kept) ELSE -1 END AS BIGINT)"
        ).alias("kept_novelty_micro"),
    )


# ---------------------------------------------------------------------------
# curation_gate_attribution
# ---------------------------------------------------------------------------


def _gate_attr_sql() -> str:
    from jigsaw_spark.operators.text import (
        alnum_ratio_sql,
        lang_hits_sql,
        lang_predict_sql,
        shingles_sql,
        tokens_sql,
    )

    return f"""
    WITH toks AS (
      SELECT doc_id, {tokens_sql('text')} AS t,
             {alnum_ratio_sql('text')} AS alnum
      FROM documents),
    flags AS MATERIALIZED (
      SELECT doc_id,
             len(t) < 20 AS f_len,
             alnum < 0.5 AS f_alnum,
             {lang_predict_sql(
                 f"CAST({lang_hits_sql('t', 'en')} AS INT)",
                 f"CAST({lang_hits_sql('t', 'es')} AS INT)",
                 f"CAST({lang_hits_sql('t', 'fr')} AS INT)",
             )} <> 'en' AS f_lang,
             len(t) >= 3 AND
               2 * (len({shingles_sql('t', 3)})
                    - len(list_distinct({shingles_sql('t', 3)})))
               > len({shingles_sql('t', 3)}) AS f_rep
      FROM toks),
    agg AS (
      SELECT CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(CASE WHEN f_len THEN 1 ELSE 0 END) AS BIGINT)
               AS fail_len,
             CAST(sum(CASE WHEN f_alnum THEN 1 ELSE 0 END) AS BIGINT)
               AS fail_alnum,
             CAST(sum(CASE WHEN f_lang THEN 1 ELSE 0 END) AS BIGINT)
               AS fail_lang,
             CAST(sum(CASE WHEN f_rep THEN 1 ELSE 0 END) AS BIGINT)
               AS fail_rep,
             CAST(sum(CASE WHEN f_len AND NOT f_alnum AND NOT f_lang
               AND NOT f_rep THEN 1 ELSE 0 END) AS BIGINT) AS sole_len,
             CAST(sum(CASE WHEN f_alnum AND NOT f_len AND NOT f_lang
               AND NOT f_rep THEN 1 ELSE 0 END) AS BIGINT) AS sole_alnum,
             CAST(sum(CASE WHEN f_lang AND NOT f_len AND NOT f_alnum
               AND NOT f_rep THEN 1 ELSE 0 END) AS BIGINT) AS sole_lang,
             CAST(sum(CASE WHEN f_rep AND NOT f_len AND NOT f_alnum
               AND NOT f_lang THEN 1 ELSE 0 END) AS BIGINT) AS sole_rep,
             CAST(sum(CASE WHEN NOT f_len AND NOT f_alnum AND NOT f_lang
               AND NOT f_rep THEN 1 ELSE 0 END) AS BIGINT) AS n_pass
      FROM flags)
    SELECT r.rule, a.n_docs, a.n_pass,
           CASE r.rule WHEN 'min_tokens' THEN a.fail_len
                       WHEN 'alnum_ratio' THEN a.fail_alnum
                       WHEN 'lang_en' THEN a.fail_lang
                       ELSE a.fail_rep END AS n_fail,
           CASE r.rule WHEN 'min_tokens' THEN a.sole_len
                       WHEN 'alnum_ratio' THEN a.sole_alnum
                       WHEN 'lang_en' THEN a.sole_lang
                       ELSE a.sole_rep END AS n_sole_fail,
           CAST((CASE r.rule WHEN 'min_tokens' THEN a.fail_len
                             WHEN 'alnum_ratio' THEN a.fail_alnum
                             WHEN 'lang_en' THEN a.fail_lang
                             ELSE a.fail_rep END) * 1000 // a.n_docs
             AS BIGINT) AS fail_milli
    FROM agg a
    CROSS JOIN (SELECT unnest(['min_tokens', 'alnum_ratio', 'lang_en',
                               'repetition']) AS rule) r
"""


@register(
    "curation_gate_attribution",
    _gate_attr_sql(),
    "which quality gate does the work: for the v1 curation battery "
    "(min 20 tokens, alnum ratio >= 0.5, lang-predict == 'en') plus "
    "the Gopher repetition rule in exact integer form "
    "(2*(n_grams - n_distinct) > n_grams — text_repetition's 0.5 "
    "threshold without a float), per rule: docs failing it, docs "
    "failing ONLY it (dropping the rule readmits exactly these — a "
    "zero sole-fail rule is redundant at this corpus), the shared "
    "pass count, and the milli fail share. The inclusion-exclusion "
    "ledger behind curation_pipeline's end-to-end keep rate. Shape: "
    "map-only 4-boolean projection -> ONE 1-row aggregate -> a 4-row "
    "rule dim cross — zero shuffles beyond the scalar agg",
)
def curation_gate_attribution(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from jigsaw_spark.operators.text import (
        alnum_ratio_expr,
        lang_hits_expr,
        lang_predict_expr,
        shingles_expr,
        tokens_expr,
    )

    docs = _t(spark, sf_dir, "documents").withColumn(
        "t", tokens_expr("text")
    )
    grams = shingles_expr("t", 3)
    flags = docs.select(
        (F.size("t") < 20).alias("f_len"),
        (alnum_ratio_expr("text") < 0.5).alias("f_alnum"),
        (
            lang_predict_expr(
                lang_hits_expr("t", "en"),
                lang_hits_expr("t", "es"),
                lang_hits_expr("t", "fr"),
            )
            != "en"
        ).alias("f_lang"),
        (
            (F.size("t") >= 3)
            & (
                2 * (F.size(grams) - F.size(F.array_distinct(grams)))
                > F.size(grams)
            )
        ).alias("f_rep"),
    )

    def cnt(cond):
        return F.sum(F.when(cond, 1).otherwise(0)).cast("bigint")

    f_len, f_alnum = F.col("f_len"), F.col("f_alnum")
    f_lang, f_rep = F.col("f_lang"), F.col("f_rep")
    agg = flags.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        cnt(f_len).alias("fail_len"),
        cnt(f_alnum).alias("fail_alnum"),
        cnt(f_lang).alias("fail_lang"),
        cnt(f_rep).alias("fail_rep"),
        cnt(f_len & ~f_alnum & ~f_lang & ~f_rep).alias("sole_len"),
        cnt(f_alnum & ~f_len & ~f_lang & ~f_rep).alias("sole_alnum"),
        cnt(f_lang & ~f_len & ~f_alnum & ~f_rep).alias("sole_lang"),
        cnt(f_rep & ~f_len & ~f_alnum & ~f_lang).alias("sole_rep"),
        cnt(~f_len & ~f_alnum & ~f_lang & ~f_rep).alias("n_pass"),
    )
    rules = F.broadcast(
        spark.createDataFrame(
            [("min_tokens",), ("alnum_ratio",), ("lang_en",),
             ("repetition",)],
            "rule string",
        )
    )
    pick = (
        "CASE rule WHEN 'min_tokens' THEN {p}_len"
        " WHEN 'alnum_ratio' THEN {p}_alnum"
        " WHEN 'lang_en' THEN {p}_lang ELSE {p}_rep END"
    )
    return agg.crossJoin(rules).select(
        "rule",
        "n_docs",
        "n_pass",
        F.expr(pick.format(p="fail")).alias("n_fail"),
        F.expr(pick.format(p="sole")).alias("n_sole_fail"),
        F.expr(
            f"CAST(({pick.format(p='fail')}) * 1000 div n_docs"
            " AS BIGINT)"
        ).alias("fail_milli"),
    )


# ---------------------------------------------------------------------------
# curation_cluster_extinction
# ---------------------------------------------------------------------------


def _cluster_extinction_sql() -> str:
    from jigsaw_spark.operators.text import (
        alnum_ratio_sql,
        lang_hits_sql,
        lang_predict_sql,
        shingles_sql,
    )

    return f"""
    WITH RECURSIVE {_KEEPER_EDGES_CTE},
    reach(u, v) AS (
      SELECT u, v FROM edges
      UNION
      SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u
      WHERE e.v <> r.u),
    comp AS (
      SELECT u AS doc_id, least(u, min(v)) AS component
      FROM reach GROUP BY u),
    gate AS MATERIALIZED (
      SELECT k.doc_id,
             (NOT (len(k.t) < 20)
              AND NOT ({alnum_ratio_sql('d.text')} < 0.5)
              AND NOT ({lang_predict_sql(
                  f"CAST({lang_hits_sql('k.t', 'en')} AS INT)",
                  f"CAST({lang_hits_sql('k.t', 'es')} AS INT)",
                  f"CAST({lang_hits_sql('k.t', 'fr')} AS INT)",
              )} <> 'en')
              AND NOT (len(k.t) >= 3 AND
                2 * (len({shingles_sql('k.t', 3)})
                     - len(list_distinct({shingles_sql('k.t', 3)})))
                > len({shingles_sql('k.t', 3)}))) AS pass
      FROM ktoks k JOIN documents d ON k.doc_id = d.doc_id),
    lab AS (
      SELECT g.doc_id, coalesce(c.component, g.doc_id) AS component,
             g.pass
      FROM gate g LEFT JOIN comp c ON g.doc_id = c.doc_id),
    cl AS MATERIALIZED (
      SELECT component, CAST(count(*) AS BIGINT) AS sz,
             CAST(sum(CASE WHEN pass THEN 1 ELSE 0 END) AS BIGINT)
               AS n_pass
      FROM lab GROUP BY 1)
    SELECT CAST(sz AS BIGINT) AS cluster_size,
           CAST(count(*) AS BIGINT) AS n_clusters,
           CAST(sum(CASE WHEN n_pass = 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_extinct,
           CAST(sum(CASE WHEN n_pass = 0 THEN 1 ELSE 0 END) * 1000
             // count(*) AS BIGINT) AS extinct_milli,
           CAST(sz * sum(CASE WHEN n_pass = 0 THEN 1 ELSE 0 END)
             AS BIGINT) AS docs_erased
    FROM cl GROUP BY sz
"""


@register(
    "curation_cluster_extinction",
    _cluster_extinction_sql(),
    "cluster-level content loss of the v1 curation battery (min 20 "
    "tokens, alnum >= 0.5, lang = 'en', Gopher repetition — the exact "
    "curation_gate_attribution predicates): dedup clusters are "
    "CONTENT groups, so a gate that fails every member of a cluster "
    "erases that content entirely (extinction) while partial drops "
    "only remove redundancy. Per cluster size over the exact-keeper "
    "universe (near-dup components, unpaired keepers singleton): "
    "cluster count, extinct count, extinction rate, docs erased. "
    "Doc-level keep rates cannot distinguish trimming a cluster from "
    "erasing it — this can. Shape: shared keeper graph + "
    "size-adaptive components, map-only 4-gate projection, two "
    "hash-agg rollups (cluster then size histogram)",
)
def curation_cluster_extinction(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from jigsaw_spark.operators.dedup import (
        connected_components,
        keeper_frames,
    )
    from jigsaw_spark.operators.text import (
        alnum_ratio_expr,
        lang_hits_expr,
        lang_predict_expr,
        shingles_expr,
        tokens_expr,
    )

    docs = _t(spark, sf_dir, "documents")
    # one exact-dedup pass shared by the gate universe and the pair graph
    # (with_text: the gate reads keeper text downstream)
    ded, kpairs = keeper_frames(docs, "doc_id", with_text=True)
    keepers = (
        ded.filter(~F.col("is_dup"))
        .select("doc_id", "text")
        .withColumn("t", tokens_expr("text"))
    )
    grams = shingles_expr("t", 3)
    gate = keepers.select(
        "doc_id",
        (
            ~(F.size("t") < 20)
            & ~(alnum_ratio_expr("text") < 0.5)
            & ~(
                lang_predict_expr(
                    lang_hits_expr("t", "en"),
                    lang_hits_expr("t", "es"),
                    lang_hits_expr("t", "fr"),
                )
                != "en"
            )
            & ~(
                (F.size("t") >= 3)
                & (
                    2
                    * (F.size(grams) - F.size(F.array_distinct(grams)))
                    > F.size(grams)
                )
            )
        ).alias("pass"),
    )
    comp = connected_components(
        kpairs.localCheckpoint()
    ).select("doc_id", F.col("component").alias("c0"))
    lab = gate.join(comp, "doc_id", "left").select(
        F.coalesce("c0", F.col("doc_id")).alias("component"),
        "pass",
    )
    cl = lab.groupBy("component").agg(
        F.count(F.lit(1)).cast("bigint").alias("sz"),
        F.sum(F.when(F.col("pass"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_pass"),
    )
    return cl.groupBy("sz").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_clusters"),
        F.sum(F.when(F.col("n_pass") == 0, 1).otherwise(0))
        .cast("bigint")
        .alias("n_extinct"),
    ).select(
        F.col("sz").cast("bigint").alias("cluster_size"),
        "n_clusters",
        "n_extinct",
        F.expr(
            "CAST(n_extinct * 1000 div n_clusters AS BIGINT)"
        ).alias("extinct_milli"),
        (F.col("sz") * F.col("n_extinct"))
        .cast("bigint")
        .alias("docs_erased"),
    )


# ---------------------------------------------------------------------------
# curation_gate_by_source
# ---------------------------------------------------------------------------


def _gate_by_source_sql() -> str:
    from jigsaw_spark.operators.text import (
        alnum_ratio_sql,
        lang_hits_sql,
        lang_predict_sql,
        shingles_sql,
        tokens_sql,
    )

    return f"""
    WITH toks AS (
      SELECT doc_id, source, {tokens_sql('text')} AS t,
             {alnum_ratio_sql('text')} AS alnum
      FROM documents),
    flags AS MATERIALIZED (
      SELECT source,
             len(t) < 20 AS f_len,
             alnum < 0.5 AS f_alnum,
             {lang_predict_sql(
                 f"CAST({lang_hits_sql('t', 'en')} AS INT)",
                 f"CAST({lang_hits_sql('t', 'es')} AS INT)",
                 f"CAST({lang_hits_sql('t', 'fr')} AS INT)",
             )} <> 'en' AS f_lang,
             len(t) >= 3 AND
               2 * (len({shingles_sql('t', 3)})
                    - len(list_distinct({shingles_sql('t', 3)})))
               > len({shingles_sql('t', 3)}) AS f_rep
      FROM toks)
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(CASE WHEN NOT f_len AND NOT f_alnum AND NOT f_lang
             AND NOT f_rep THEN 1 ELSE 0 END) AS BIGINT) AS n_pass,
           CAST(sum(CASE WHEN f_len THEN 1 ELSE 0 END) AS BIGINT)
             AS fail_len,
           CAST(sum(CASE WHEN f_alnum THEN 1 ELSE 0 END) AS BIGINT)
             AS fail_alnum,
           CAST(sum(CASE WHEN f_lang THEN 1 ELSE 0 END) AS BIGINT)
             AS fail_lang,
           CAST(sum(CASE WHEN f_rep THEN 1 ELSE 0 END) AS BIGINT)
             AS fail_rep,
           CAST(sum(CASE WHEN NOT f_len AND NOT f_alnum AND NOT f_lang
             AND NOT f_rep THEN 1 ELSE 0 END) * 1000 // count(*)
             AS BIGINT) AS pass_milli
    FROM flags GROUP BY source
"""


@register(
    "curation_gate_by_source",
    _gate_by_source_sql(),
    "per-source quality-gate attribution — the 'drop this source?' "
    "table: for each source, docs, battery passes, per-rule fail "
    "counts (the exact curation_gate_attribution predicates: min 20 "
    "tokens, alnum >= 0.5, lang-predict == 'en', Gopher repetition) "
    "and the milli pass rate. curation_gate_attribution says which "
    "RULE does the work corpus-wide; this says which SOURCE supplies "
    "the junk each rule removes — the two axes of the same ledger. "
    "Shape: one map-only 4-boolean projection, ONE (source) hash-agg "
    "— zero joins, zero windows",
)
def curation_gate_by_source(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from jigsaw_spark.operators.text import (
        alnum_ratio_expr,
        lang_hits_expr,
        lang_predict_expr,
        shingles_expr,
        tokens_expr,
    )

    docs = _t(spark, sf_dir, "documents").withColumn(
        "t", tokens_expr("text")
    )
    grams = shingles_expr("t", 3)
    flags = docs.select(
        "source",
        (F.size("t") < 20).alias("f_len"),
        (alnum_ratio_expr("text") < 0.5).alias("f_alnum"),
        (
            lang_predict_expr(
                lang_hits_expr("t", "en"),
                lang_hits_expr("t", "es"),
                lang_hits_expr("t", "fr"),
            )
            != "en"
        ).alias("f_lang"),
        (
            (F.size("t") >= 3)
            & (
                2 * (F.size(grams) - F.size(F.array_distinct(grams)))
                > F.size(grams)
            )
        ).alias("f_rep"),
    )

    def cnt(cond):
        return F.sum(F.when(cond, 1).otherwise(0)).cast("bigint")

    f_len, f_alnum = F.col("f_len"), F.col("f_alnum")
    f_lang, f_rep = F.col("f_lang"), F.col("f_rep")
    ok = ~f_len & ~f_alnum & ~f_lang & ~f_rep
    return flags.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        cnt(ok).alias("n_pass"),
        cnt(f_len).alias("fail_len"),
        cnt(f_alnum).alias("fail_alnum"),
        cnt(f_lang).alias("fail_lang"),
        cnt(f_rep).alias("fail_rep"),
        F.expr(
            "CAST(sum(CASE WHEN NOT f_len AND NOT f_alnum AND NOT"
            " f_lang AND NOT f_rep THEN 1 ELSE 0 END) * 1000"
            " div count(1) AS BIGINT)"
        ).alias("pass_milli"),
    )


# ---------------------------------------------------------------------------
# curation_gate_dup_overlap
# ---------------------------------------------------------------------------


def _gate_flags_sql() -> str:
    """The v1 gate battery as a (doc_id, ok) CTE fragment — the
    curation_gate_by_source flag set reduced to its pass bit."""
    from jigsaw_spark.operators.text import (
        alnum_ratio_sql,
        lang_hits_sql,
        lang_predict_sql,
        shingles_sql,
        tokens_sql,
    )

    return f"""
    gtoks AS (
      SELECT doc_id, {tokens_sql('text')} AS gt,
             {alnum_ratio_sql('text')} AS alnum
      FROM documents),
    gate AS MATERIALIZED (
      SELECT doc_id,
             NOT (len(gt) < 20)
             AND NOT (alnum < 0.5)
             AND NOT ({lang_predict_sql(
                 f"CAST({lang_hits_sql('gt', 'en')} AS INT)",
                 f"CAST({lang_hits_sql('gt', 'es')} AS INT)",
                 f"CAST({lang_hits_sql('gt', 'fr')} AS INT)",
             )} <> 'en')
             AND NOT (len(gt) >= 3 AND
               2 * (len({shingles_sql('gt', 3)})
                    - len(list_distinct({shingles_sql('gt', 3)})))
               > len({shingles_sql('gt', 3)})) AS ok
      FROM gtoks)"""


def _gate_ok_col(docs: DataFrame, *extra: str) -> DataFrame:
    """(doc_id, *extra, ok): the Spark twin of ``_gate_flags_sql``.
    ``extra`` columns ride the same projection so callers don't pay a
    doc_id self-join just to re-attach source columns."""
    from jigsaw_spark.operators.text import (
        alnum_ratio_expr,
        lang_hits_expr,
        lang_predict_expr,
        shingles_expr,
        tokens_expr,
    )

    t = tokens_expr("text")
    d = docs.select(
        "doc_id",
        *extra,
        t.alias("gt"),
        alnum_ratio_expr("text").alias("alnum"),
    )
    grams = shingles_expr("gt", 3)
    return d.select(
        "doc_id",
        *extra,
        (
            ~(F.size("gt") < 20)
            & ~(F.col("alnum") < 0.5)
            & ~(
                lang_predict_expr(
                    lang_hits_expr("gt", "en"),
                    lang_hits_expr("gt", "es"),
                    lang_hits_expr("gt", "fr"),
                )
                != "en"
            )
            & ~(
                (F.size("gt") >= 3)
                & (
                    2
                    * (F.size(grams) - F.size(F.array_distinct(grams)))
                    > F.size(grams)
                )
            )
        ).alias("ok"),
    )


def _gate_dup_overlap_sql() -> str:
    return f"""
    WITH RECURSIVE {_KEEPER_EDGES_CTE},
    reach(u, v) AS (
      SELECT u, v FROM edges
      UNION
      SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u
      WHERE e.v <> r.u),
    comp AS (
      SELECT u AS doc_id, least(u, min(v)) AS component
      FROM reach GROUP BY u),
    keeper_of AS (
      SELECT doc_id, min(doc_id) OVER (PARTITION BY fp) AS keeper
      FROM fpt),
    clust AS (
      SELECT k.doc_id, coalesce(c.component, k.keeper) AS cluster
      FROM keeper_of k LEFT JOIN comp c ON k.keeper = c.doc_id),
    csz AS (
      SELECT cluster, CAST(count(*) AS BIGINT) AS sz
      FROM clust GROUP BY 1),
    dupf AS MATERIALIZED (
      SELECT cl.doc_id, s.sz >= 2 AS is_dup_member
      FROM clust cl JOIN csz s ON cl.cluster = s.cluster),
    {_gate_flags_sql()}
    SELECT d.source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(CASE WHEN g.ok AND f.is_dup_member
             THEN 1 ELSE 0 END) AS BIGINT) AS n_pass_dup,
           CAST(sum(CASE WHEN g.ok AND NOT f.is_dup_member
             THEN 1 ELSE 0 END) AS BIGINT) AS n_pass_uniq,
           CAST(sum(CASE WHEN NOT g.ok AND f.is_dup_member
             THEN 1 ELSE 0 END) AS BIGINT) AS n_fail_dup,
           CAST(sum(CASE WHEN NOT g.ok AND NOT f.is_dup_member
             THEN 1 ELSE 0 END) AS BIGINT) AS n_fail_uniq,
           CAST(CASE WHEN sum(CASE WHEN NOT g.ok THEN 1 ELSE 0 END)
             = 0 THEN 0
             ELSE sum(CASE WHEN NOT g.ok AND f.is_dup_member
               THEN 1 ELSE 0 END) * 1000
               // sum(CASE WHEN NOT g.ok THEN 1 ELSE 0 END)
             END AS BIGINT) AS dup_rate_fail_milli,
           CAST(CASE WHEN sum(CASE WHEN g.ok THEN 1 ELSE 0 END) = 0
             THEN 0
             ELSE sum(CASE WHEN g.ok AND f.is_dup_member
               THEN 1 ELSE 0 END) * 1000
               // sum(CASE WHEN g.ok THEN 1 ELSE 0 END)
             END AS BIGINT) AS dup_rate_pass_milli
    FROM documents d
    JOIN gate g ON d.doc_id = g.doc_id
    JOIN dupf f ON d.doc_id = f.doc_id
    GROUP BY d.source
"""


@register(
    "curation_gate_dup_overlap",
    _gate_dup_overlap_sql(),
    "does the quality gate do dedup's work — per source, the 2×2 of "
    "v1-gate pass × near-dup-cluster membership (cluster size >= 2 "
    "over the shared keeper machinery) plus the dup rate among "
    "failures vs passes: boilerplate is both gate-fodder and "
    "dup-fodder, so dup_rate_fail far above dup_rate_pass means the "
    "gate mostly burns budget on docs dedup would remove anyway — "
    "run dedup FIRST; rates close together mean the two filters are "
    "orthogonal and both earn their pass. Shape: map-only gate "
    "projection + the certified keeper/cluster machinery + one "
    "cluster-size hash-agg; no new pair surface",
)
def curation_gate_dup_overlap(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from jigsaw_spark.operators.dedup import (
        connected_components,
        keeper_frames,
    )
    from jigsaw_spark.session import widen

    docs = widen(_t(spark, sf_dir, "documents"))
    # one exact-dedup pass shared by the keeper fold and the pair graph
    ded, kpairs = keeper_frames(docs, "doc_id")
    keeper_of = ded.select("doc_id", "keeper")
    comp = connected_components(
        kpairs.localCheckpoint()
    ).select(
        F.col("doc_id").alias("keeper"),
        F.col("component").alias("c0"),
    )
    clust = keeper_of.join(comp, "keeper", "left").select(
        "doc_id",
        F.coalesce("c0", F.col("keeper")).alias("cluster"),
    )
    # cluster-partitioned window count instead of groupBy + join-back:
    # `clust` (whose lineage holds the fp window AND the union-find
    # kernel) is evaluated ONCE, not once per reference (guide §2.4);
    # `source` rides the gate projection instead of a doc_id self-join
    wc = Window.partitionBy("cluster")
    dupf = clust.select(
        "doc_id", (F.count(F.lit(1)).over(wc) >= 2).alias("is_dup_member")
    )
    j = _gate_ok_col(docs, "source").join(dupf, "doc_id")

    def cnt(cond):
        return F.sum(F.when(cond, 1).otherwise(0)).cast("bigint")

    ok, dup = F.col("ok"), F.col("is_dup_member")
    return j.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        cnt(ok & dup).alias("n_pass_dup"),
        cnt(ok & ~dup).alias("n_pass_uniq"),
        cnt(~ok & dup).alias("n_fail_dup"),
        cnt(~ok & ~dup).alias("n_fail_uniq"),
        F.expr(
            "CAST(CASE WHEN sum(CASE WHEN NOT ok THEN 1 ELSE 0 END)"
            " = 0 THEN 0 ELSE sum(CASE WHEN NOT ok AND is_dup_member"
            " THEN 1 ELSE 0 END) * 1000"
            " div sum(CASE WHEN NOT ok THEN 1 ELSE 0 END) END"
            " AS BIGINT)"
        ).alias("dup_rate_fail_milli"),
        F.expr(
            "CAST(CASE WHEN sum(CASE WHEN ok THEN 1 ELSE 0 END) = 0"
            " THEN 0 ELSE sum(CASE WHEN ok AND is_dup_member"
            " THEN 1 ELSE 0 END) * 1000"
            " div sum(CASE WHEN ok THEN 1 ELSE 0 END) END AS BIGINT)"
        ).alias("dup_rate_pass_milli"),
    )
