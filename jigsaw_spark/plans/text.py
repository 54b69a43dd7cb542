"""Text queries (``text_*``, ``rag_*``): tokenization, n-gram statistics,
quality scores, retrieval and packing.

All share the tokenizer and shingle kernel of operators/text.py with the
dedup family, so both engines see the same tokens.

Scores that could land on a decimal midpoint are integer milli- or
micro-units: the readability score's float form hit 55.38625 at 4 digits,
where Spark's BigDecimal HALF_UP and DuckDB's binary rounding disagree. The
round-snap pattern protects libm-fed irrationals, not exact rationals on a
midpoint.

Scale: pair statistics come from df-capped posting joins, never all-pairs;
packing's running sums are windowed per (lang, shard), so packing across
shard boundaries is deliberately not a thing, as in production packers.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from jigsaw_spark.functions.hashing import det_hash, md5_int
from jigsaw_spark.operators.dedup import edit_distance_pairs
from jigsaw_spark.operators.text import (
    alnum_ratio_expr,
    alnum_ratio_sql,
    avg_token_len_expr,
    avg_token_len_sql,
    bpeish_tokens_expr,
    bpeish_tokens_sql,
    fingerprint_expr,
    fingerprint_sql,
    lang_hits_expr,
    lang_hits_sql,
    lang_predict_expr,
    lang_predict_sql,
    shingles_expr,
    shingles_sql,
    stopword_ratio_expr,
    stopword_ratio_sql,
    tokens_expr,
    tokens_sql,
)
from jigsaw_spark.plans.dedup import _SHINGLES_CTE, _TOKS_CTE
from jigsaw_spark.plans.registry import _TRIGRAMS, QUERIES, _t, register


# ---------------------------------------------------------------------------
# Text analysis
# ---------------------------------------------------------------------------


@register(
    "text_tokens",
    f"""
    WITH {_TOKS_CTE}
    SELECT d.doc_id,
           CAST(length(d.text) AS INT) AS n_chars,
           CAST(len(t.t) AS INT)       AS n_tokens,
           CAST(len(list_distinct(t.t)) AS INT) AS n_unique_tokens
    FROM documents d JOIN toks t ON d.doc_id = t.doc_id
    """,
    "token counting: chars, whitespace/punct tokens, distinct tokens",
)
def text_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    t = tokens_expr("text")
    return docs.select(
        "doc_id",
        F.length("text").alias("n_chars"),
        F.size(t).alias("n_tokens"),
        F.size(F.array_distinct(t)).alias("n_unique_tokens"),
    )


@register(
    "text_quality",
    f"""
    WITH {_TOKS_CTE}
    SELECT d.doc_id,
           round({avg_token_len_sql('t.t')}, 4)  AS avg_token_len,
           round({stopword_ratio_sql('t.t')}, 4) AS stopword_ratio,
           round({alnum_ratio_sql('d.text')}, 4) AS alnum_ratio
    FROM documents d JOIN toks t ON d.doc_id = t.doc_id
    """,
    "quality scoring: token length / stopword / punctuation ratios",
)
def text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents").withColumn("t", tokens_expr("text"))
    return docs.select(
        "doc_id",
        F.round(avg_token_len_expr("t"), 4).alias("avg_token_len"),
        F.round(stopword_ratio_expr("t"), 4).alias("stopword_ratio"),
        F.round(alnum_ratio_expr("text"), 4).alias("alnum_ratio"),
    )


@register(
    "text_langid",
    f"""
    WITH {_TOKS_CTE},
    hits AS (
      SELECT doc_id,
             CAST({lang_hits_sql('t', 'en')} AS INT) AS en_hits,
             CAST({lang_hits_sql('t', 'es')} AS INT) AS es_hits,
             CAST({lang_hits_sql('t', 'fr')} AS INT) AS fr_hits
      FROM toks)
    SELECT doc_id, {lang_predict_sql('en_hits', 'es_hits', 'fr_hits')} AS pred_lang,
           en_hits, es_hits, fr_hits
    FROM hits
    """,
    "language-ID n-gram/marker heuristic with deterministic argmax",
)
def text_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents").withColumn("t", tokens_expr("text"))
    hits = docs.select(
        "doc_id",
        lang_hits_expr("t", "en").alias("en_hits"),
        lang_hits_expr("t", "es").alias("es_hits"),
        lang_hits_expr("t", "fr").alias("fr_hits"),
    )
    return hits.select(
        "doc_id",
        lang_predict_expr(
            F.col("en_hits"), F.col("es_hits"), F.col("fr_hits")
        ).alias("pred_lang"),
        "en_hits",
        "es_hits",
        "fr_hits",
    )


@register(
    "text_bpeish_tokens",
    f"""
    SELECT doc_id,
           CAST(len({bpeish_tokens_sql('text')}) AS INT) AS n_bpeish
    FROM documents
    """,
    "BPE-style pre-tokenizer piece count (LLM token-budget proxy)",
)
def text_bpeish_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id", F.size(bpeish_tokens_expr("text")).alias("n_bpeish")
    )


@register(
    "text_fingerprint",
    f"""
    WITH {_TOKS_CTE}
    SELECT doc_id, {fingerprint_sql('t')} AS fp FROM toks
    """,
    "document fingerprint: md5 over the normalized token stream",
)
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id", fingerprint_expr(tokens_expr("text")).alias("fp")
    )


@register(
    "text_tfidf",
    f"""
    WITH {_TOKS_CTE},
    terms AS (
      SELECT doc_id, tok AS term, count(*) AS tf
      FROM (SELECT doc_id, unnest(t) AS tok FROM toks)
      GROUP BY doc_id, tok),
    docfreq AS (SELECT term, count(*) AS df FROM terms GROUP BY term),
    n AS (SELECT count(*) AS n_docs FROM documents),
    scored AS (
      SELECT t.doc_id, t.term,
             t.tf * (ln((1 + n.n_docs) / (1 + d.df)) + 1) AS score
      FROM terms t JOIN docfreq d ON t.term = d.term CROSS JOIN n)
    SELECT doc_id, term, round(score, 4) AS tfidf, rank FROM (
      SELECT doc_id, term, score,
             CAST(row_number() OVER (PARTITION BY doc_id
               ORDER BY round(score, 9) DESC, term) AS INT) AS rank
      FROM scored) t
    WHERE rank <= 3
    """,
    "top-3 TF-IDF terms per document (smooth idf; per-doc relevance "
    "profile for corpus curation)",
)
def text_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    from jigsaw_spark.operators.text import tfidf_top_terms

    docs = _t(spark, sf_dir, "documents")
    return tfidf_top_terms(docs, "doc_id", top_n=3)


@register(
    "text_chunk",
    f"""
    WITH {_TOKS_CTE}
    SELECT doc_id,
           CAST(i // 48 AS INT) AS chunk_idx,
           CAST(len(list_slice(t, i + 1, least(i + 64, len(t)))) AS INT) AS n_chunk_tokens,
           array_to_string(list_slice(t, i + 1, least(i + 64, len(t))), ' ') AS chunk_text
    FROM (SELECT doc_id, t, unnest(range(0, len(t), 48)) AS i
          FROM toks WHERE len(t) >= 1) u
    """,
    "document chunking: overlapping 64-token windows, stride 48 — narrow "
    "sequence+slice fan-out, the context-window prep for embedding/training",
)
def text_chunk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from jigsaw_spark.operators.text import chunk_documents

    docs = _t(spark, sf_dir, "documents")
    return chunk_documents(docs, "doc_id", chunk_size=64, overlap=16)


@register(
    "text_pack",
    """
    WITH sized AS (
      SELECT doc_id, source, n_chars,
             CAST(coalesce(sum(n_chars) OVER (
               PARTITION BY source ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS BIGINT) AS pack_offset
      FROM documents)
    SELECT doc_id, source, n_chars, pack_offset,
           CAST(pack_offset // 4096 AS INT) AS pack_bin
    FROM sized
    """,
    "sequence packing: concat-then-chop layout into 4096-char bins, scoped "
    "per source (each scope packs independently — the parallel path)",
)
def text_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    from jigsaw_spark.operators.text import pack_sequences

    docs = _t(spark, sf_dir, "documents").select("doc_id", "source", "n_chars")
    return pack_sequences(
        docs, ["doc_id"], "n_chars", budget=4096, partition_cols=["source"]
    )


@register(
    "text_unigram_logprob",
    f"""
    WITH {_TOKS_CTE},
    tok AS (SELECT doc_id, unnest(t) AS term FROM toks),
    lm AS (SELECT term, count(*) AS cnt FROM tok GROUP BY term),
    total AS (SELECT sum(cnt) AS total FROM lm)
    SELECT doc_id, count(*) AS n_tokens,
           round(avg(-ln(CAST(cnt AS DOUBLE) / total)), 4) AS neg_logprob
    FROM tok JOIN lm USING (term) CROSS JOIN total
    GROUP BY doc_id
    """,
    "corpus-unigram LM scoring (KenLM-lite curation signal): one explode + "
    "vocab agg builds the LM, 1-row total broadcast, token→prob join, "
    "per-doc mean −ln p — outlier docs (OCR garbage/wrong language) score "
    "high. LM table scales with vocab, never corpus",
)
def text_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    from jigsaw_spark.operators.text import unigram_logprob

    return unigram_logprob(_t(spark, sf_dir, "documents"), "doc_id")


_BM25_TERMS = ["spark", "window", "vector"]


@register(
    "text_bm25_topk",
    f"""
    WITH {_TOKS_CTE},
    tok AS (SELECT doc_id, unnest(t) AS term FROM toks),
    doclen AS (SELECT doc_id, count(*) AS dl FROM tok GROUP BY doc_id),
    stats AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM doclen),
    tf AS (SELECT doc_id, term, count(*) AS tf FROM tok
           WHERE term IN ('spark', 'window', 'vector')
           GROUP BY doc_id, term),
    dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
    scored AS (
      SELECT doc_id,
             round(sum(
               ln(1 + (n_docs - df + 0.5) / (df + 0.5))
               * tf * 2.2
               / (tf + 1.2 * (1 - 0.75 + 0.75 * dl / avgdl))), 4) AS bm25
      FROM tf JOIN dfreq USING (term)
      JOIN doclen USING (doc_id) CROSS JOIN stats
      GROUP BY doc_id)
    SELECT doc_id, bm25 FROM scored
    ORDER BY bm25 DESC, doc_id
    LIMIT 20
    """,
    "BM25 top-k lexical retrieval over the corpus (k1=1.2, b=0.75): "
    "query-term filter prunes postings before any agg (inverted-index "
    "discipline), doc-length + corpus stats are 1-row broadcasts, top-k "
    "is TakeOrdered — no global sort",
)
def text_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from jigsaw_spark.operators.text import bm25_topk

    return bm25_topk(
        _t(spark, sf_dir, "documents"), "doc_id", _BM25_TERMS, k=20
    )


# ---------------------------------------------------------------------------
# Blocked Levenshtein near-dup (the edit-distance member of the dedup family).
# ---------------------------------------------------------------------------


@register(
    "text_edit_distance",
    """
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           levenshtein(substr(a.text, 1, 60), substr(b.text, 1, 60)) AS distance
    FROM documents a
    JOIN documents b
      ON a.lang = b.lang AND a.source = b.source
     AND floor(length(a.text) / 20) = floor(length(b.text) / 20)
     AND a.doc_id < b.doc_id
    WHERE levenshtein(substr(a.text, 1, 60), substr(b.text, 1, 60)) <= 40
    """,
    "edit-distance near-dup pairs, blocked on (lang, source, length-bucket)",
)
def text_edit_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return edit_distance_pairs(
        docs,
        key="doc_id",
        text="text",
        block_cols=["lang", "source"],
        length_bucket=20,
        prefix_len=60,
        max_distance=40,
    )


@register(
    "text_bigrams",
    f"""
    WITH toks AS (
      SELECT {tokens_sql('text')} AS t FROM documents
    ), pairs AS (
      SELECT unnest({shingles_sql('t', 2)}) AS bigram
      FROM toks WHERE len(t) >= 2
    )
    SELECT bigram, count(*) AS n
    FROM pairs GROUP BY bigram HAVING count(*) >= 20
    """,
    "corpus word-bigram frequencies over the shared shingle kernel",
)
def text_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    toks = docs.select(tokens_expr("text").alias("t")).filter(F.size("t") >= 2)
    return (
        toks.select(F.explode(shingles_expr("t", 2)).alias("bigram"))
        .groupBy("bigram")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") >= 20)
    )


# ---------------------------------------------------------------------------
# Repetition: duplicate word-3-gram fraction per document. Shuffle-free —
# the whole score is higher-order array functions folded into the scan
# projection (shingles → distinct → sizes), no explode, no groupBy.
# ---------------------------------------------------------------------------


@register(
    "text_repetition",
    f"""
    WITH sh AS (
      SELECT doc_id,
             {shingles_sql(tokens_sql("text"), 3)} AS grams
      FROM documents
      WHERE len({tokens_sql("text")}) >= 3
    )
    SELECT doc_id,
           len(grams) AS n_grams,
           round(1.0 - len(list_distinct(grams))::DOUBLE / len(grams), 6)
             AS dup_frac,
           CASE WHEN 1.0 - len(list_distinct(grams))::DOUBLE / len(grams)
                     > 0.5
                THEN true ELSE false END AS is_repetitive
    FROM sh
    """,
    "Gopher-style repetition rule: duplicate 3-gram fraction per doc, "
    "zero-shuffle (array kernels inside the scan projection)",
)
def text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    toks = docs.select("doc_id", tokens_expr("text").alias("t")).filter(
        F.size("t") >= 3
    )
    grams = toks.select("doc_id", shingles_expr("t", 3).alias("grams"))
    dup_frac = F.round(
        1.0
        - F.size(F.array_distinct("grams")).cast("double") / F.size("grams"),
        6,
    )
    return grams.select(
        "doc_id",
        F.size("grams").alias("n_grams"),
        dup_frac.alias("dup_frac"),
        (dup_frac > 0.5).alias("is_repetitive"),
    )


# ---------------------------------------------------------------------------
# Contamination: distinct-4-gram overlap between the corpus and a
# "benchmark" subset (doc_id % 50 == 0 → 2% of docs, the held-out stand-in).
# The benchmark's distinct gram set is tiny relative to the corpus → built
# once and BROADCAST; the probe side is one (doc_id, gram) distinct plus a
# broadcast left join with a hit flag, re-aggregated per doc. At 100 TB:
# benchmark n-gram sets are MBs (bounded by the eval suites), the corpus is
# the big side, and its only exchange is the (doc_id, gram) distinct the
# dedup needs anyway — the join itself stays map-side.
# ---------------------------------------------------------------------------


@register(
    "text_contamination",
    f"""
    WITH grams AS (
      SELECT doc_id,
             list_distinct({shingles_sql(tokens_sql("text"), 4)}) AS grams
      FROM documents
      WHERE len({tokens_sql("text")}) >= 4
    ), bench AS (
      SELECT DISTINCT unnest(grams) AS g FROM grams WHERE doc_id % 50 = 0
    ), probe AS (
      SELECT doc_id, unnest(grams) AS g
      FROM grams WHERE doc_id % 50 <> 0
    ), hits AS (
      SELECT p.doc_id, count(*) AS n_contaminated
      FROM probe p JOIN bench b ON p.g = b.g
      GROUP BY p.doc_id
    )
    SELECT g.doc_id,
           len(g.grams) AS n_grams,
           coalesce(h.n_contaminated, 0) AS n_contaminated,
           round(coalesce(h.n_contaminated, 0)::DOUBLE / len(g.grams), 6)
             AS contamination
    FROM grams g LEFT JOIN hits h ON g.doc_id = h.doc_id
    WHERE g.doc_id % 50 <> 0
    """,
    "benchmark-contamination check: distinct-4-gram collision join of the "
    "corpus against a broadcast benchmark gram set",
)
def text_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    from jigsaw_spark.session import widen

    # widen(): the shingle kernel is CPU-bound and chained on a scan that
    # locally yields ONE partition (single-row-group parquet) — without
    # width it runs 1-task (measured 36 s at sf0.1; ~2 s with it).
    docs = widen(_t(spark, sf_dir, "documents"))
    toks = docs.select("doc_id", tokens_expr("text").alias("t")).filter(
        F.size("t") >= 4
    )
    # distinct grams as ROWS, not arrays: explode the raw shingle stream and
    # dedupe (doc_id, g) in the exchange. Never explode(array_distinct(...))
    # — Generate re-evaluates a non-trivial generator child per OUTPUT row
    # (measured 13 s vs 0.2 s at sf0.1); the row-level distinct does the
    # same dedup inside the shuffle Spark needs anyway.
    ex = toks.select(
        "doc_id", F.explode(shingles_expr("t", 4)).alias("g")
    ).distinct()
    bench = F.broadcast(
        ex.filter(F.col("doc_id") % 50 == 0)
        .select("g")
        .distinct()
        .withColumn("hit", F.lit(1))
    )
    return (
        ex.filter(F.col("doc_id") % 50 != 0)
        .join(bench, "g", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.sum(F.coalesce("hit", F.lit(0))).alias("n_contaminated"),
        )
        .select(
            "doc_id",
            "n_grams",
            "n_contaminated",
            F.round(
                F.col("n_contaminated").cast("double") / F.col("n_grams"), 6
            ).alias("contamination"),
        )
    )


# ---------------------------------------------------------------------------
# PII redaction: scrub emails/phones from text before training. The corpus
# has no PII, so each doc gets a deterministic synthetic contact line
# appended, then the scrubber removes it — the query verifies detection
# counts AND the exact post-scrub text (md5), so the redaction itself is
# oracle-checked. Pure regexp projection: zero shuffle, codegen'd, linear.
# Patterns stay in the Java∩RE2∩PCRE common subset (character classes,
# +/{n} quantifiers — no lookaround) so any engine agrees byte-for-byte.
# ---------------------------------------------------------------------------

_EMAIL_RE = r"[a-z0-9]+@[a-z0-9]+\.[a-z]+"

_PHONE_RE = r"\+1-555-[0-9]{4}"


@register(
    "text_pii_scrub",
    f"""
    WITH synth AS (
      SELECT doc_id,
             text || ' contact user' || doc_id ||
             '@example.com or +1-555-' ||
             lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') AS raw
      FROM documents
    )
    SELECT doc_id,
           len(regexp_extract_all(raw, '{_EMAIL_RE}'))  AS n_emails,
           len(regexp_extract_all(raw, '{_PHONE_RE}')) AS n_phones,
           md5(regexp_replace(regexp_replace(raw, '{_EMAIL_RE}', '<EMAIL>', 'g'),
                              '{_PHONE_RE}', '<PHONE>', 'g')) AS scrubbed_md5
    FROM synth
    """,
    "PII redaction: global regexp scrub of emails + phones, verified by "
    "match counts and the md5 of the redacted text",
)
def text_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    raw = F.concat(
        F.col("text"),
        F.lit(" contact user"),
        F.col("doc_id").cast("string"),
        F.lit("@example.com or +1-555-"),
        F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
    )
    scrubbed = F.regexp_replace(
        F.regexp_replace(raw, _EMAIL_RE, "<EMAIL>"), _PHONE_RE, "<PHONE>"
    )
    return docs.select(
        "doc_id",
        F.size(F.regexp_extract_all(raw, F.lit(_EMAIL_RE), 0)).alias("n_emails"),
        F.size(F.regexp_extract_all(raw, F.lit(_PHONE_RE), 0)).alias("n_phones"),
        F.md5(scrubbed.cast("binary")).alias("scrubbed_md5"),
    )


# ---------------------------------------------------------------------------
# Model-scored quality filtering: a fixed-weight logistic regressor over the
# engine's quality features — the shape of a fastText/classifier quality
# gate (the real model's weights would be broadcast the same way; here they
# are literals so the oracle recomputes the identical score). Pure column
# arithmetic: zero shuffle, codegen'd, and the keep/drop decision composes
# with the curation pipeline's other gates.
# ---------------------------------------------------------------------------

_QW = {"b": -1.5, "len": 0.55, "stop": 2.0, "alnum": 1.2, "chars": 0.002}


def _quality_model_oracle() -> str:
    from jigsaw_spark.operators.text import (
        alnum_ratio_sql,
        avg_token_len_sql,
        stopword_ratio_sql,
        tokens_sql,
    )

    z = (
        "({b} + {len} * avg_token_len + {stop} * stopword_ratio"
        " + {alnum} * alnum_ratio + {chars} * n_chars)".format(**_QW)
    )
    return """
    WITH feats AS (
      SELECT doc_id, n_chars,
             {atl} AS avg_token_len,
             {stop} AS stopword_ratio,
             {alnum} AS alnum_ratio
      FROM (SELECT doc_id, n_chars, text, {toks} AS t FROM documents)
    )
    SELECT doc_id,
           round(1.0 / (1.0 + exp(-{z})), 6) AS quality_score,
           CASE WHEN 1.0 / (1.0 + exp(-{z})) >= 0.5
                THEN true ELSE false END AS keep
    FROM feats
    """.format(
        atl=avg_token_len_sql("t"),
        stop=stopword_ratio_sql("t"),
        alnum=alnum_ratio_sql("text"),
        toks=tokens_sql("text"),
        z=z,
    )


@register(
    "text_quality_model",
    _quality_model_oracle(),
    "model-scored quality gate: fixed-weight logistic regression over the "
    "quality features (the classifier-filter shape; weights broadcast as "
    "literals) — zero-shuffle scoring + keep decision",
)
def text_quality_model(spark: SparkSession, sf_dir: str) -> DataFrame:
    from jigsaw_spark.operators.text import (
        alnum_ratio_expr,
        avg_token_len_expr,
        stopword_ratio_expr,
    )

    docs = _t(spark, sf_dir, "documents").withColumn("t", tokens_expr("text"))
    z = (
        F.lit(_QW["b"])
        + F.lit(_QW["len"]) * avg_token_len_expr("t")
        + F.lit(_QW["stop"]) * stopword_ratio_expr("t")
        + F.lit(_QW["alnum"]) * alnum_ratio_expr("text")
        + F.lit(_QW["chars"]) * F.col("n_chars")
    )
    score = 1.0 / (1.0 + F.exp(-z))
    return docs.select(
        "doc_id",
        F.round(score, 6).alias("quality_score"),
        (score >= 0.5).alias("keep"),
    )


@register(
    "text_boilerplate",
    f"""
    WITH toks AS (
      SELECT doc_id, {tokens_sql("text")} AS t FROM documents
    ),
    grams AS (
      SELECT doc_id, list_distinct({shingles_sql("t", 3)}) AS g
      FROM toks WHERE len(t) >= 3
    ),
    ex AS (SELECT doc_id, unnest(g) AS gram FROM grams),
    boiler AS (
      SELECT gram FROM ex GROUP BY gram
      HAVING count(DISTINCT doc_id) >= 3),
    hits AS (
      SELECT doc_id, count(*) AS n_boiler
      FROM ex JOIN boiler USING (gram) GROUP BY doc_id)
    SELECT g.doc_id, len(g.g) AS n_grams,
           coalesce(h.n_boiler, 0) AS n_boiler,
           round(coalesce(h.n_boiler, 0)::DOUBLE / len(g.g), 6)
             AS boiler_frac,
           round(coalesce(h.n_boiler, 0)::DOUBLE / len(g.g), 6) > 0.5
             AS is_boiler
    FROM grams g LEFT JOIN hits h ON g.doc_id = h.doc_id
    """,
    "corpus-boilerplate coverage: fraction of each doc's distinct 3-grams "
    "appearing in >= 3 docs (C4 repeated-line rule at n-gram granularity) "
    "— distinct grams fold into the scan, one explode, two hash aggs",
)
def text_boilerplate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from jigsaw_spark.operators.text import boilerplate_coverage

    docs = _t(spark, sf_dir, "documents")
    return boilerplate_coverage(docs, "doc_id", "text", n=3, min_docs=3)


@register(
    "text_topgram_coverage",
    f"""
    WITH toks AS (
      SELECT doc_id, {tokens_sql("text")} AS t FROM documents
    ),
    g AS (
      SELECT doc_id, unnest({shingles_sql("t", 2)}) AS gram
      FROM toks WHERE len(t) >= 2
    ),
    cnt AS (SELECT doc_id, gram, count(*) AS c FROM g GROUP BY doc_id, gram),
    top AS (
      SELECT doc_id, CAST(max(c) AS BIGINT) AS top_cnt,
             CAST(sum(c) AS BIGINT) AS n_grams
      FROM cnt GROUP BY doc_id)
    SELECT doc_id, n_grams, top_cnt,
           round(top_cnt::DOUBLE / n_grams, 6) AS top_frac,
           round(top_cnt::DOUBLE / n_grams, 6) > 0.2 AS is_repetitive
    FROM top
    """,
    "Gopher top-n-gram coverage rule: fraction of a doc's 2-grams claimed "
    "by its single most frequent 2-gram (complements the duplicate-3-gram "
    "fraction in text_repetition) — one explode, two hash aggregates, "
    "counts only (tie-free: the top gram's identity never surfaces)",
)
def text_topgram_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    from jigsaw_spark.operators.text import shingles_expr, tokens_expr
    from jigsaw_spark.session import widen

    docs = widen(_t(spark, sf_dir, "documents"))
    # Generate barrier (explode of 1-elem array) keeps the regex tokenizer
    # out of the interpreted shingle lambda — same hazard/fix as
    # text.boilerplate_coverage
    toks = docs.select(
        F.col("doc_id"), F.explode(F.array(tokens_expr("text"))).alias("_t")
    ).where(F.size("_t") >= 2)
    g = toks.select(
        "doc_id", F.explode(shingles_expr("_t", 2)).alias("gram")
    )
    cnt = g.groupBy("doc_id", "gram").agg(F.count(F.lit(1)).alias("c"))
    top = cnt.groupBy("doc_id").agg(
        F.max("c").alias("top_cnt"), F.sum("c").alias("n_grams")
    )
    frac = F.round(F.col("top_cnt") / F.col("n_grams"), 6)
    return top.select(
        "doc_id",
        "n_grams",
        "top_cnt",
        frac.alias("top_frac"),
        (frac > F.lit(0.2)).alias("is_repetitive"),
    )


def _hash_dim_sql(k: int) -> str:
    # 12 hex chars = 48 bits; /2^48 is an exact power-of-two division, so
    # the [-1,1) projection is bit-identical across engines
    return (
        f"((('0x' || substr(md5('rag|{k}|' || chunk_text), 1, 12))::UBIGINT"
        f" / 281474976710656.0) * 2 - 1)"
    )


@register(
    "rag_pipeline",
    f"""
    WITH toks AS (
      SELECT doc_id, {tokens_sql("text")} AS t FROM documents
    ),
    ch AS (
      SELECT doc_id, CAST(i // 32 AS INT) AS chunk_idx,
             array_to_string(list_slice(t, i + 1, least(i + 32, len(t))), ' ')
               AS chunk_text
      FROM (SELECT doc_id, t, unnest(range(0, len(t), 32)) AS i
            FROM toks WHERE len(t) >= 1) u
    ),
    e AS (
      SELECT doc_id * 1000 + chunk_idx AS vec_id,
             [{", ".join(_hash_dim_sql(k) for k in range(8))}] AS embedding
      FROM ch
    )
    SELECT query_id, vec_id, cosine, rank FROM (
      SELECT q.vec_id AS query_id, c.vec_id AS vec_id,
             round(list_cosine_similarity(q.embedding, c.embedding), 4)
               AS cosine,
             CAST(row_number() OVER (
               PARTITION BY q.vec_id
               ORDER BY round(list_cosine_similarity(q.embedding,
                                                     c.embedding), 9) DESC,
                        c.vec_id
             ) AS INT) AS rank
      FROM e q JOIN e c ON q.vec_id <> c.vec_id
      WHERE q.vec_id < 2000) t
    WHERE rank <= 3
    """,
    "end-to-end RAG corpus build: overlapping-window chunking → "
    "deterministic 8-dim hash embedding (md5 streams, exact 2^-48 "
    "projection — the SQL-replayable stand-in for a model encoder) → "
    "brute-force cosine top-3 retrieval for the first two docs' chunks. "
    "Every stage JVM-side; the embed step is the map-only pattern a real "
    "encoder UDF slots into (similarity.ivf_topk is the indexed scale "
    "path over the same vectors)",
)
def rag_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    from jigsaw_spark.operators.similarity import cosine_topk
    from jigsaw_spark.operators.text import chunk_documents

    docs = _t(spark, sf_dir, "documents")
    chunks = chunk_documents(docs, "doc_id", chunk_size=32, overlap=0)
    dims = [
        (
            det_hash(F.lit(str(k)), "chunk_text", seed="rag", chars=12)
            .cast("double")
            / F.lit(float(16**12))
            * 2
            - 1
        )
        for k in range(8)
    ]
    emb = chunks.select(
        (F.col("doc_id") * 1000 + F.col("chunk_idx")).alias("vec_id"),
        F.array(*dims).alias("embedding"),
    )
    queries = emb.filter(F.col("vec_id") < 2000)
    return cosine_topk(emb, queries, k=3)


@register(
    "text_bpe_train",
    None,  # iterative argmax sequence is not SQL-expressible; bit-exact
    # parity vs a pure-Python reference in tests/test_bpe_train.py
    "distributed BPE training: corpus collapsed ONCE to a weighted vocab "
    "table; per merge round a map-side pair explode + ONE hash agg + "
    "top-1 TakeOrdered + JVM fold rewrite; lineage checkpoint every 5",
)
def text_bpe_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    from jigsaw_spark.operators.text import bpe_train

    docs = _t(spark, sf_dir, "documents")
    merges, _vocab = bpe_train(docs, "text", n_merges=10)
    return merges


@register(
    "text_bpe_encode",
    None,  # merge-table application is iterative; bit-exact parity vs the
    # pure-Python reference + train/encode agreement in tests
    "BPE encode at corpus scale: merges ride the task closure (KB), ONE "
    "map-only Arrow kernel with a per-batch word cache (vocab-not-corpus "
    "work), zero shuffle. Registered form emits SCALARS only (the array "
    "column stays in the bpe_encode API for callers; array-typed output "
    "cells are a driver ERR class — r5 red, PLANS.md ban).",
)
def text_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    from jigsaw_spark.operators.text import bpe_encode, bpe_train

    docs = _t(spark, sf_dir, "documents")
    merges_df, _ = bpe_train(docs, "text", n_merges=10)
    merges = [
        (r["left"], r["right"]) for r in merges_df.orderBy("rank").collect()
    ]
    enc = bpe_encode(docs, merges, "doc_id", "text")
    return enc.select(
        "doc_id",
        F.concat_ws("▁", "pieces").alias("pieces_str"),
        "n_pieces",
    )


@register(
    "text_entropy",
    f"""
    WITH ch AS (
      SELECT doc_id, unnest(list_transform(range(1, length(text) + 1),
                                           i -> text[i])) AS ch
      FROM documents
    ), counts AS (
      SELECT doc_id, ch, count(*) AS c FROM ch GROUP BY doc_id, ch
    )
    SELECT doc_id,
           CAST(sum(c) AS BIGINT) AS n_chars,
           round(round(ln(CAST(sum(c) AS DOUBLE))
                 - sum(CAST(c AS DOUBLE) * ln(c)) / CAST(sum(c) AS DOUBLE),
                 9), 4) AS entropy_nats,
           count(*) AS n_distinct_chars
    FROM counts GROUP BY doc_id
    """,
    "char-level Shannon entropy (gibberish/OCR-garbage signal) in the "
    "algebraic one-pass form H = ln n - (sum c ln c)/n: one explode + two "
    "map-side-combinable hash aggs, no window, no per-doc state; "
    "double-round (9 then 4 digits) on BOTH sides snaps libm/sum-order "
    "noise before the coarse round (r2 flake fix)",
)
def text_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    from jigsaw_spark.operators.text import char_entropy

    return char_entropy(_t(spark, sf_dir, "documents"), "doc_id")


@register(
    "text_bigram_logprob",
    f"""
    WITH {_TOKS_CTE},
    bg AS (
      SELECT doc_id,
             unnest(list_transform(range(1, len(t)),
                                   i -> t[i] || ' ' || t[i+1])) AS bigram,
             unnest(list_transform(range(1, len(t)), i -> t[i])) AS w1
      FROM toks WHERE len(t) >= 2),
    cb AS (SELECT bigram, count(*) AS cb FROM bg GROUP BY bigram),
    cu AS (SELECT w1, count(*) AS cu FROM bg GROUP BY w1),
    v AS (SELECT count(DISTINCT w) AS v
          FROM (SELECT unnest(t) AS w FROM toks) q),
    scored AS (
      SELECT g.doc_id,
             -ln((cb.cb + 0.5) / (cu.cu + 0.5 * v.v)) AS nll
      FROM bg g JOIN cb USING (bigram) JOIN cu USING (w1) CROSS JOIN v)
    SELECT doc_id, count(*) AS n_bigrams,
           round(avg(nll), 4) AS neg_logprob
    FROM scored GROUP BY doc_id
    """,
    "corpus bigram LM with add-0.5 smoothing: one bigram explode feeds "
    "BOTH the LM aggregation and the scoring join (same key, exchange "
    "reuse); vocabulary size is a 1-row broadcast; per-doc mean -ln p — "
    "the next-order KenLM-lite curation signal above text_unigram_logprob",
)
def text_bigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    from jigsaw_spark.operators.text import tokens_expr

    docs = _t(spark, sf_dir, "documents")
    toks = docs.select("doc_id", tokens_expr("text").alias("t")).filter(
        F.size("t") >= 2
    )
    bg = toks.select(
        "doc_id",
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.size("t") - 1),
                lambda i: F.struct(
                    F.concat_ws(
                        " ", F.element_at("t", i), F.element_at("t", i + F.lit(1))
                    ).alias("bigram"),
                    F.element_at("t", i).alias("w1"),
                ),
            )
        ).alias("p"),
    ).select("doc_id", "p.bigram", "p.w1")
    cb = bg.groupBy("bigram").agg(F.count(F.lit(1)).alias("cb"))
    cu = bg.groupBy("w1").agg(F.count(F.lit(1)).alias("cu"))
    v = (
        docs.select(F.explode(tokens_expr("text")).alias("w"))
        .agg(F.count_distinct("w").alias("v"))
    )
    nll = -F.log(
        (F.col("cb") + 0.5) / (F.col("cu") + 0.5 * F.col("v"))
    )
    return (
        bg.join(cb, "bigram")
        .join(cu, "w1")
        .crossJoin(F.broadcast(v))
        .select("doc_id", nll.alias("nll"))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.round(F.avg("nll"), 4).alias("neg_logprob"),
        )
    )


_RAKE_STOPS = ("a", "the", "of", "and", "to", "in")

_RAKE_STOPS_SQL = ", ".join(f"'{w}'" for w in _RAKE_STOPS)


@register(
    "text_rake_keyphrase",
    f"""
    WITH {_TOKS_CTE},
    pos AS (
      SELECT doc_id, generate_subscripts(t, 1) AS p, unnest(t) AS w
      FROM toks),
    flagged AS (
      SELECT doc_id, p, w,
             CASE WHEN w IN ({_RAKE_STOPS_SQL}) THEN 1 ELSE 0 END AS stop
      FROM pos),
    runs AS (
      SELECT doc_id, p, w, stop,
             sum(stop) OVER (PARTITION BY doc_id ORDER BY p) AS run
      FROM flagged),
    pw AS (
      SELECT doc_id, run, w, p,
             count(*) OVER (PARTITION BY doc_id, run) AS plen
      FROM runs WHERE stop = 0),
    stats AS (
      SELECT w, count(*) AS freq, sum(plen) AS deg FROM pw GROUP BY w),
    scored AS (
      SELECT pw.doc_id, pw.run,
             string_agg(pw.w, ' ' ORDER BY pw.p) AS phrase,
             round(sum(CAST(s.deg AS DOUBLE) / s.freq), 6) AS score
      FROM pw JOIN stats s USING (w)
      GROUP BY pw.doc_id, pw.run),
    ranked AS (
      SELECT doc_id, phrase, score,
             row_number() OVER (PARTITION BY doc_id
                                ORDER BY score DESC, phrase) AS rn
      FROM scored)
    SELECT doc_id, phrase, score FROM ranked WHERE rn = 1
    """,
    "RAKE-lite keyphrase extraction: stopword islands (running-sum run "
    "ids) -> phrase table, word degree/frequency stats in ONE agg, "
    "phrase score = sum(deg/freq), top phrase per doc — explode + three "
    "hash aggs + one word-keyed join, nothing quadratic",
)
def text_rake_keyphrase(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    from jigsaw_spark.operators.text import tokens_expr

    docs = _t(spark, sf_dir, "documents")
    pos = docs.select(
        "doc_id", F.posexplode(tokens_expr("text")).alias("p0", "w")
    ).select("doc_id", (F.col("p0") + 1).alias("p"), "w")
    flagged = pos.withColumn(
        "stop", F.col("w").isin(list(_RAKE_STOPS)).cast("int")
    )
    w_run = Window.partitionBy("doc_id").orderBy("p")
    runs = flagged.withColumn("run", F.sum("stop").over(w_run))
    pw = runs.filter(F.col("stop") == 0).withColumn(
        "plen",
        F.count(F.lit(1)).over(Window.partitionBy("doc_id", "run")),
    )
    stats = pw.groupBy("w").agg(
        F.count(F.lit(1)).alias("freq"), F.sum("plen").alias("deg")
    )
    scored = (
        pw.join(stats, "w")
        .groupBy("doc_id", "run")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("p", "w"))),
                    lambda s: s["w"],
                ),
                " ",
            ).alias("phrase"),
            F.round(
                F.sum(F.col("deg").cast("double") / F.col("freq")), 6
            ).alias("score"),
        )
    )
    w_rank = Window.partitionBy("doc_id").orderBy(
        F.desc("score"), F.asc("phrase")
    )
    return (
        scored.withColumn("rn", F.row_number().over(w_rank))
        .filter(F.col("rn") == 1)
        .select("doc_id", "phrase", "score")
    )


@register(
    "text_compression_ratio",
    None,  # zlib output length is library-deterministic but not
    # SQL-expressible; parity vs local zlib in tests/test_r4_ops.py
    "zlib compression-ratio redundancy probe (Gopher-adjacent quality "
    "signal): mapInArrow kernel, RecordBatch-direct, zero shuffle",
)
def text_compression_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    from jigsaw_spark.operators.text import compression_ratio

    return compression_ratio(_t(spark, sf_dir, "documents"), "doc_id")


@register(
    "text_jsd_drift",
    f"""
    WITH {_TOKS_CTE},
    tok AS (
      SELECT doc_id % 2 AS half, unnest(t) AS w FROM toks),
    c AS (SELECT half, w, count(*) AS c FROM tok GROUP BY half, w),
    n AS (SELECT half, sum(c) AS n FROM c GROUP BY half),
    p AS (
      SELECT w,
             max(CASE WHEN half = 0 THEN CAST(c AS DOUBLE)/n END) AS p0,
             max(CASE WHEN half = 1 THEN CAST(c AS DOUBLE)/n END) AS p1
      FROM c JOIN n USING (half) GROUP BY w),
    f AS (
      SELECT coalesce(p0, 0.0) AS p0, coalesce(p1, 0.0) AS p1,
             (coalesce(p0, 0.0) + coalesce(p1, 0.0)) / 2 AS m
      FROM p)
    SELECT round(sum(CASE WHEN p0 > 0 THEN 0.5 * p0 * ln(p0 / m)
                          ELSE 0 END)
               + sum(CASE WHEN p1 > 0 THEN 0.5 * p1 * ln(p1 / m)
                          ELSE 0 END), 6) AS jsd_nats,
           count(*) AS vocab
    FROM f
    """,
    "Jensen-Shannon divergence between the token distributions of two "
    "corpus halves (text drift — PSI's distributional analog): one "
    "explode + vocab-keyed aggs pivoted to (p0, p1) rows, vocab-bounded "
    "work; exact zero-handling (missing terms contribute only from the "
    "present side)",
)
def text_jsd_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    from jigsaw_spark.operators.text import tokens_expr

    docs = _t(spark, sf_dir, "documents")
    tok = docs.select(
        (F.col("doc_id") % 2).alias("half"),
        F.explode(tokens_expr("text")).alias("w"),
    )
    c = tok.groupBy("half", "w").agg(F.count(F.lit(1)).alias("c"))
    n = c.groupBy("half").agg(F.sum("c").alias("n"))
    p = (
        c.join(F.broadcast(n), "half")
        .groupBy("w")
        .agg(
            F.max(
                F.when(F.col("half") == 0, F.col("c").cast("double") / F.col("n"))
            ).alias("p0"),
            F.max(
                F.when(F.col("half") == 1, F.col("c").cast("double") / F.col("n"))
            ).alias("p1"),
        )
    )
    f = p.select(
        F.coalesce("p0", F.lit(0.0)).alias("p0"),
        F.coalesce("p1", F.lit(0.0)).alias("p1"),
        ((F.coalesce("p0", F.lit(0.0)) + F.coalesce("p1", F.lit(0.0))) / 2).alias("m"),
    )
    term0 = F.when(F.col("p0") > 0, 0.5 * F.col("p0") * F.log(F.col("p0") / F.col("m"))).otherwise(0.0)
    term1 = F.when(F.col("p1") > 0, 0.5 * F.col("p1") * F.log(F.col("p1") / F.col("m"))).otherwise(0.0)
    return f.agg(
        F.round(F.sum(term0) + F.sum(term1), 6).alias("jsd_nats"),
        F.count(F.lit(1)).alias("vocab"),
    )


@register(
    "text_langid_confusion",
    f"""
    WITH {_TOKS_CTE.replace("SELECT doc_id,", "SELECT doc_id, lang,")},
    hits AS (
      SELECT doc_id, lang,
             CAST({{en}} AS INT) AS en_hits,
             CAST({{es}} AS INT) AS es_hits,
             CAST({{fr}} AS INT) AS fr_hits
      FROM toks)
    SELECT lang AS actual,
           {{pred}} AS predicted,
           count(*) AS n
    FROM hits GROUP BY lang, 2
    """,
    "language-ID self-evaluation: the heuristic's predictions cross-"
    "tabulated against the ground-truth lang column (confusion matrix) "
    "— one projection + one hash agg; the operator-quality report every "
    "curation heuristic should ship with",
)
def text_langid_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    from jigsaw_spark.operators.text import (
        lang_hits_expr,
        lang_predict_expr,
        tokens_expr,
    )

    docs = _t(spark, sf_dir, "documents").withColumn("t", tokens_expr("text"))
    hits = docs.select(
        "lang",
        lang_hits_expr("t", "en").alias("en_hits"),
        lang_hits_expr("t", "es").alias("es_hits"),
        lang_hits_expr("t", "fr").alias("fr_hits"),
    )
    return (
        hits.select(
            F.col("lang").alias("actual"),
            lang_predict_expr(
                F.col("en_hits"), F.col("es_hits"), F.col("fr_hits")
            ).alias("predicted"),
        )
        .groupBy("actual", "predicted")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def _install_langid_confusion_oracle() -> None:
    from jigsaw_spark.operators.text import lang_hits_sql, lang_predict_sql

    spec = QUERIES["text_langid_confusion"]
    spec.oracle = spec.oracle.format(
        en=lang_hits_sql("t", "en"),
        es=lang_hits_sql("t", "es"),
        fr=lang_hits_sql("t", "fr"),
        pred=lang_predict_sql("en_hits", "es_hits", "fr_hits"),
    )


_install_langid_confusion_oracle()


@register(
    "text_ngram_diversity",
    f"""
    WITH toks AS (
      SELECT doc_id, source, {tokens_sql('text')} AS t FROM documents
    ),
    tri AS (
      SELECT source, {_TRIGRAMS} AS g FROM toks WHERE len(t) >= 3
    )
    SELECT source,
           count(*) AS n_trigrams,
           count(DISTINCT g) AS n_distinct,
           round(count(DISTINCT g) / CAST(count(*) AS DOUBLE), 4)
             AS diversity
    FROM tri GROUP BY source ORDER BY source
    """,
    "corpus diversity per source: distinct-trigram ratio (low = "
    "templated/boilerplate-heavy slice, the self-BLEU-style diversity "
    "proxy). Plan shape (the text_entropy shape): tokens materialized "
    "BEFORE the explode (a composed tokenize+shingle generator child "
    "would re-evaluate per output row — SCALE.md §9.1, measured 65x), "
    "then TWO map-side-combinable hash aggs instead of an Expand-based "
    "count_distinct (measured 15s -> ~2s at sf0.1); all counts exact "
    "integers",
)
def text_ngram_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    from jigsaw_spark.operators.text import shingles_expr, tokens_expr

    docs = _t(spark, sf_dir, "documents")
    toks = docs.select("source", tokens_expr("text").alias("_t"))
    tri = toks.select(
        "source", F.explode(shingles_expr("_t", 3)).alias("g")
    )
    per_gram = tri.groupBy("source", "g").agg(F.count(F.lit(1)).alias("_c"))
    return (
        per_gram.groupBy("source")
        .agg(
            F.sum("_c").alias("n_trigrams"),
            F.count(F.lit(1)).alias("n_distinct"),
            F.round(
                F.count(F.lit(1)) / F.sum("_c").cast("double"), 4
            ).alias("diversity"),
        )
        .orderBy("source")
    )


_ZIPF_TOP = 500


@register(
    "text_zipf_slope",
    f"""
    WITH toks AS (
      SELECT {tokens_sql('text')} AS t FROM documents
    ),
    freq AS (
      SELECT tok, count(*) AS f
      FROM (SELECT unnest(t) AS tok FROM toks) GROUP BY tok
    ),
    ranked AS (
      SELECT f, row_number() OVER (ORDER BY f DESC, tok) AS r
      FROM freq
    ),
    pts AS (
      SELECT CAST(round(ln(CAST(r AS DOUBLE)) * 1000000) AS BIGINT) AS x,
             CAST(round(ln(CAST(f AS DOUBLE)) * 1000000) AS BIGINT) AS y
      FROM ranked WHERE r <= {_ZIPF_TOP}
    )
    SELECT count(*) AS n_terms,
           round(
             (count(*) * sum(x * y) - sum(x) * sum(y))
             / CAST(count(*) * sum(x * x) - sum(x) * sum(x) AS DOUBLE),
             6) AS zipf_slope
    FROM pts
    """,
    "Zipf-law slope of the term-frequency distribution (log-log OLS "
    "over the top-500 terms; natural text sits near -1, templated or "
    "synthetic slices drift): term hash-agg -> distributed TakeOrdered "
    "(orderBy+limit, never a global single-partition window over the "
    "full vocabulary) -> rank window on the 500 survivors -> OLS from "
    "EXACT sums (log coords snapped to integer micro-units, sums "
    "combined in decimal(38,0) — n*sum(xy) exceeds int64 at realistic "
    "corpus sizes; DuckDB's sum() is HUGEINT-exact already), so the "
    "slope is bit-identical across engines at any scale",
)
def text_zipf_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    from jigsaw_spark.operators.text import tokens_expr

    docs = _t(spark, sf_dir, "documents")
    freq = (
        docs.select(F.explode(tokens_expr("text")).alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("f"))
    )
    # TakeOrderedAndProject bounds the sort to per-partition top-500 +
    # a 500-row merge; the rank window then runs on 500 rows, not |vocab|
    top = freq.orderBy(F.desc("f"), "tok").limit(_ZIPF_TOP)
    ranked = top.withColumn(
        "r", F.row_number().over(Window.orderBy(F.desc("f"), "tok"))
    )
    pts = ranked.select(
        F.round(F.log(F.col("r").cast("double")) * 1000000)
        .cast("bigint")
        .alias("x"),
        F.round(F.log(F.col("f").cast("double")) * 1000000)
        .cast("bigint")
        .alias("y"),
    )
    # OLS in decimal(38,0): n*sum(xy) and sum(x)*sum(y) exceed int64
    # once avg term freq passes ~1200 (ln(f)*1e6 micro-units) — Spark
    # bigint would wrap silently while DuckDB's sum() is already
    # HUGEINT-exact, so the sums are combined in decimal on this side
    # to stay bit-identical at any corpus size.
    n = F.count(F.lit(1))
    nd = n.cast("decimal(38,0)")
    sx = F.sum("x").cast("decimal(38,0)")
    sy = F.sum("y").cast("decimal(38,0)")
    sxy = F.sum(F.col("x") * F.col("y")).cast("decimal(38,0)")
    sxx = F.sum(F.col("x") * F.col("x")).cast("decimal(38,0)")
    return pts.agg(
        n.alias("n_terms"),
        F.round(
            (nd * sxy - sx * sy).cast("double")
            / (nd * sxx - sx * sx).cast("double"),
            6,
        ).alias("zipf_slope"),
    )


@register(
    "text_token_fertility",
    rf"""
    WITH t AS (
      SELECT lang,
             len({tokens_sql('text')}) AS n_words,
             len(regexp_extract_all(lower(text), '''[a-z]+| ?[a-z]+| ?[0-9]+| ?[^a-z0-9\s'']+')) AS n_pieces
      FROM documents)
    SELECT lang,
           count(*) AS n_docs,
           CAST(sum(n_words) AS BIGINT) AS n_words,
           CAST(sum(n_pieces) AS BIGINT) AS n_pieces,
           round(sum(n_pieces) / CAST(sum(n_words) AS DOUBLE), 4)
             AS fertility
    FROM t WHERE n_words > 0 GROUP BY lang
    """,
    "tokenizer fertility per language (BPE-ish pieces per whitespace "
    "word): the per-language token-budget/equity diagnostic every "
    "multilingual corpus report carries — high fertility means the "
    "tokenizer fragments that language. Map-only piece counting + one "
    "tiny hash agg; fertility is a ratio of exact integer sums",
)
def text_token_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    from jigsaw_spark.operators.text import bpeish_tokens_expr, tokens_expr

    docs = _t(spark, sf_dir, "documents").select(
        "lang",
        F.size(tokens_expr("text")).alias("n_words"),
        F.size(bpeish_tokens_expr("text")).alias("n_pieces"),
    )
    return (
        docs.filter(F.col("n_words") > 0)
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_words").cast("bigint").alias("n_words"),
            F.sum("n_pieces").cast("bigint").alias("n_pieces"),
            F.round(
                F.sum("n_pieces") / F.sum("n_words").cast("double"), 4
            ).alias("fertility"),
        )
    )


# ---------------------------------------------------------------------------
# text_kneser_ney — fit on even doc_ids, score odd doc_ids
# ---------------------------------------------------------------------------


def _kn_sql() -> str:
    from jigsaw_spark.operators.text import tokens_sql

    return f"""
    WITH toks AS (
      SELECT doc_id, {tokens_sql('text')} AS t FROM documents),
    fit_bg AS (
      SELECT t[i] AS w1, t[i+1] AS w2
      FROM toks, LATERAL (SELECT unnest(range(1, len(t))) AS i) ii
      WHERE doc_id % 2 = 0 AND len(t) >= 2),
    big AS MATERIALIZED (
      SELECT w1, w2, count(*) AS c12 FROM fit_bg GROUP BY w1, w2),
    w1s AS MATERIALIZED (
      SELECT w1, sum(c12) AS c1, count(*) AS n1p FROM big GROUP BY w1),
    w2c AS MATERIALIZED (
      SELECT w2, count(*) AS nd FROM big GROUP BY w2),
    tot AS MATERIALIZED (
      SELECT (SELECT count(*) FROM big) AS tt,
             (SELECT count(DISTINCT w1) FROM (
                SELECT w1 FROM big UNION ALL SELECT w2 FROM big) u(w1))
               AS v),
    sc_bg AS (
      SELECT doc_id, t[i] AS w1, t[i+1] AS w2
      FROM toks, LATERAL (SELECT unnest(range(1, len(t))) AS i) ii
      WHERE doc_id % 2 = 1 AND len(t) >= 2),
    scored AS (
      SELECT s.doc_id,
             CAST(round(ln(
               CASE WHEN w1s.c1 IS NULL
                 THEN (coalesce(w2c.nd, 0) + 1.0) / (tot.tt + tot.v)
                 ELSE greatest(4 * coalesce(big.c12, 0) - 3, 0)
                        / (4.0 * w1s.c1)
                      + (3.0 * w1s.n1p) / (4.0 * w1s.c1)
                        * ((coalesce(w2c.nd, 0) + 1.0) / (tot.tt + tot.v))
               END) * 1e6) AS BIGINT) AS lp_micro
      FROM sc_bg s
      LEFT JOIN big ON s.w1 = big.w1 AND s.w2 = big.w2
      LEFT JOIN w1s ON s.w1 = w1s.w1
      LEFT JOIN w2c ON s.w2 = w2c.w2
      CROSS JOIN tot)
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_bigrams,
           CAST(sum(lp_micro) AS BIGINT) AS logp_micro,
           round(CAST(sum(lp_micro) AS DOUBLE) / count(*) / 1e6, 6)
             AS avg_logp
    FROM scored GROUP BY doc_id
    """


@register(
    "text_kneser_ney",
    _kn_sql(),
    "Kneser-Ney smoothed bigram LM (d=3/4, the published discount; "
    "+1-smoothed continuation so every probability is positive): FIT "
    "on even docs, SCORE odd docs — P(w2|w1) = max(c12-d,0)/c1 + "
    "d*N1+(w1,.)/c1 * Pcont(w2), Pcont = (N1+(.,w2)+1)/(T+V); unseen "
    "history backs off to Pcont alone. The discount is the exact "
    "rational 3/4 (4*c12-3 integer clamp), so P is one shared double "
    "expression from exact integer counts; ln snaps to micro-units "
    "per BIGRAM (the DSIR per-bucket discipline), per-doc scores are "
    "exact integer sums. Shape: gram explode -> three hash joins "
    "keyed on w1/(w1,w2)/w2 against vocabulary-bounded stat dims + "
    "one 1-row totals broadcast — linear at any corpus scale",
)
def text_kneser_ney(spark: SparkSession, sf_dir: str) -> DataFrame:
    from jigsaw_spark.operators.text import tokens_expr

    docs = _t(spark, sf_dir, "documents")
    toks = docs.select("doc_id", tokens_expr("text").alias("t")).filter(
        F.size("t") >= 2
    )
    bigrams = toks.select(
        "doc_id",
        F.explode(
            F.expr(
                "transform(sequence(1, size(t) - 1),"
                " i -> struct(t[i - 1] AS w1, t[i] AS w2))"
            )
        ).alias("bg"),
    ).select("doc_id", "bg.w1", "bg.w2")
    fit = bigrams.filter(F.col("doc_id") % 2 == 0)
    big = fit.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c12"))
    w1s = big.groupBy("w1").agg(
        F.sum("c12").alias("c1"), F.count(F.lit(1)).alias("n1p")
    )
    w2c = big.groupBy("w2").agg(F.count(F.lit(1)).alias("nd"))
    tot = big.agg(F.count(F.lit(1)).alias("tt")).crossJoin(
        big.select("w1")
        .union(big.select("w2"))
        .distinct()
        .agg(F.count(F.lit(1)).alias("v"))
    )
    sc = bigrams.filter(F.col("doc_id") % 2 == 1)
    pcont = (F.coalesce("nd", F.lit(0)) + 1.0) / (F.col("tt") + F.col("v"))
    p = F.when(
        F.col("c1").isNull(), pcont
    ).otherwise(
        F.greatest(4 * F.coalesce("c12", F.lit(0)) - 3, F.lit(0))
        / (4.0 * F.col("c1"))
        + (3.0 * F.col("n1p")) / (4.0 * F.col("c1")) * pcont
    )
    scored = (
        sc.join(big, ["w1", "w2"], "left_outer")
        .join(w1s, "w1", "left_outer")
        .join(w2c, "w2", "left_outer")
        .crossJoin(F.broadcast(tot))
        .select(
            "doc_id",
            F.round(F.log(p) * 1e6).cast("bigint").alias("lp_micro"),
        )
    )
    return scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_bigrams"),
        F.sum("lp_micro").cast("bigint").alias("logp_micro"),
        F.round(
            F.sum("lp_micro").cast("double") / F.count(F.lit(1)) / 1e6, 6
        ).alias("avg_logp"),
    )


# ---------------------------------------------------------------------------
# text_readability
# ---------------------------------------------------------------------------

_READ_SQL = f"""
    WITH c AS (
      SELECT doc_id,
             CAST(len({tokens_sql('text')}) AS BIGINT) AS n_words,
             CAST(greatest(1, len(regexp_extract_all(text, '[.!?]+')))
                  AS BIGINT) AS n_sentences,
             CAST(len(regexp_extract_all(lower(text), '[aeiouy]+'))
                  AS BIGINT) AS n_syllables
      FROM documents)
    SELECT doc_id, n_words, n_sentences, n_syllables,
           CAST(CASE WHEN n_words > 0
                     THEN 206835 - (1015 * n_words) // n_sentences
                          - (84600 * n_syllables) // n_words
                     ELSE 0 END AS BIGINT) AS flesch_milli
    FROM c
"""


@register(
    "text_readability",
    _READ_SQL,
    "Flesch reading-ease per document — the classic readability "
    "curation score. Words are the engine's shared tokenizer, "
    "sentences are terminal-punctuation runs (floored at 1), "
    "syllables the standard vowel-group heuristic — all exact integer "
    "counts from single regex passes (JVM-side, no UDF). The score is "
    "emitted in EXACT integer milli-units via floor division "
    "(206835 - 1015*W div S - 84600*Syl div W, all terms positive so "
    "div == //), sidestepping the decimal-midpoint rounding class "
    "entirely; empty docs emit 0. Map-only at any scale",
)
def text_readability(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    c = docs.select(
        "doc_id",
        F.size(tokens_expr("text")).cast("bigint").alias("n_words"),
        F.greatest(
            F.lit(1),
            F.size(F.expr("regexp_extract_all(text, '[.!?]+', 0)")),
        )
        .cast("bigint")
        .alias("n_sentences"),
        F.size(F.expr("regexp_extract_all(lower(text), '[aeiouy]+', 0)"))
        .cast("bigint")
        .alias("n_syllables"),
    )
    return c.select(
        "doc_id",
        "n_words",
        "n_sentences",
        "n_syllables",
        F.expr(
            "CAST(CASE WHEN n_words > 0"
            " THEN 206835 - (1015 * n_words) div n_sentences"
            " - (84600 * n_syllables) div n_words"
            " ELSE 0 END AS BIGINT)"
        ).alias("flesch_milli"),
    )


# ---------------------------------------------------------------------------
# text_watermark_detect
# ---------------------------------------------------------------------------

_WM_SQL = f"""
    WITH toks AS (
      SELECT doc_id, {tokens_sql('text')} AS t FROM documents),
    bg AS (
      SELECT doc_id,
             CASE WHEN ('0x' || substr(md5(t[i] || '|' || t[i+1] || '|wm'),
                                       1, 2))::UBIGINT % 2 = 0
                  THEN 1 ELSE 0 END AS green
      FROM toks, LATERAL (SELECT unnest(range(1, len(t))) AS i) ii
      WHERE len(t) >= 2),
    agg AS (
      SELECT doc_id, count(*) AS n, sum(green) AS g
      FROM bg GROUP BY doc_id)
    SELECT doc_id, CAST(n AS BIGINT) AS n_bigrams,
           CAST(g AS BIGINT) AS n_green,
           round(round(CAST(2 * g - n AS DOUBLE)
                       / sqrt(CAST(n AS DOUBLE)), 9), 4) AS z
    FROM agg
"""


@register(
    "text_watermark_detect",
    _WM_SQL,
    "greenlist watermark detector (Kirchenbauer et al. 2023 style) "
    "for synthetic-text screening: each bigram is 'green' when the "
    "seeded hash parity of (prev, token) says so, so natural text "
    "sits at ~50% green and generator-biased text scores high; z = "
    "(2g - n)/sqrt(n) is the standard one-proportion test. Counts "
    "are exact integers from one gram explode + hash agg (the NB/"
    "DSIR shape); the z is ONE shared expression (IEEE sqrt, "
    "round-snapped 9-then-4). Docs below 2 tokens are excluded by "
    "construction",
)
def text_watermark_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    from jigsaw_spark.operators.text import tokens_expr

    docs = _t(spark, sf_dir, "documents")
    toks = docs.select("doc_id", tokens_expr("text").alias("t")).filter(
        F.size("t") >= 2
    )
    bg = toks.select(
        "doc_id",
        F.explode(
            F.expr(
                "transform(slice(t, 1, size(t) - 1), (x, i) ->"
                " CASE WHEN conv(substring(md5(concat(x, '|', t[i + 1],"
                " '|wm')), 1, 2), 16, 10) % 2 = 0 THEN 1 ELSE 0 END)"
            )
        ).alias("green"),
    )
    agg = bg.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n"), F.sum("green").alias("g")
    )
    return agg.select(
        "doc_id",
        F.col("n").cast("bigint").alias("n_bigrams"),
        F.col("g").cast("bigint").alias("n_green"),
        F.round(
            F.round(
                (2 * F.col("g") - F.col("n")).cast("double")
                / F.sqrt(F.col("n").cast("double")),
                9,
            ),
            4,
        ).alias("z"),
    )


# ---------------------------------------------------------------------------
# text_ngram_novelty
# ---------------------------------------------------------------------------


def _novelty_sql() -> str:
    return f"""
    WITH {_TOKS_CTE}, {_SHINGLES_CTE},
    firsts AS (SELECT shingle, min(doc_id) AS first_doc FROM sh GROUP BY shingle)
    SELECT s.doc_id,
           CAST(count(*) AS BIGINT) AS n_shingles,
           CAST(sum(CASE WHEN f.first_doc = s.doc_id THEN 1 ELSE 0 END)
                AS BIGINT) AS n_novel,
           CAST(sum(CASE WHEN f.first_doc = s.doc_id THEN 1 ELSE 0 END)
                * 1000000 // count(*) AS BIGINT) AS novelty_micro
    FROM sh s JOIN firsts f ON s.shingle = f.shingle
    GROUP BY s.doc_id
"""


@register(
    "text_ngram_novelty",
    _novelty_sql(),
    "per-doc novelty: fraction of its distinct trigrams whose corpus-"
    "wide first holder (min doc id — the deterministic stand-in for "
    "earliest-crawled) is the doc itself. Low novelty = the doc mostly "
    "restates earlier corpus content — the incremental-crawl keep/drop "
    "signal dedup pair-scoring is too expensive for. Shape: one "
    "shingle explode -> ONE shingle-keyed min agg -> join back on the "
    "same key (exchange reuse) -> doc agg; integer micro ratio",
)
def text_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    from jigsaw_spark.operators.dedup import doc_shingles

    docs = _t(spark, sf_dir, "documents")
    sh = doc_shingles(docs, "doc_id")
    firsts = sh.groupBy("shingle").agg(F.min("doc_id").alias("first_doc"))
    return (
        sh.join(firsts, "shingle")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_shingles"),
            F.sum(
                F.when(F.col("first_doc") == F.col("doc_id"), 1).otherwise(0)
            )
            .cast("bigint")
            .alias("n_novel"),
            F.expr(
                "CAST(sum(CASE WHEN first_doc = doc_id THEN 1 ELSE 0 END)"
                " * 1000000 div count(*) AS BIGINT)"
            ).alias("novelty_micro"),
        )
    )


# ---------------------------------------------------------------------------
# text_repetition_score
# ---------------------------------------------------------------------------


def _repetition_sql() -> str:
    from jigsaw_spark.operators.text import tokens_sql

    return f"""
    WITH toks AS (SELECT doc_id, {tokens_sql('text')} AS t FROM documents),
    shn AS (
      SELECT doc_id, {_TRIGRAMS} AS shingle FROM toks WHERE len(t) >= 3),
    cnt AS (SELECT doc_id, shingle, count(*) AS c FROM shn GROUP BY 1, 2)
    SELECT doc_id,
           CAST(sum(c) AS BIGINT) AS n_grams,
           CAST(max(c) AS BIGINT) AS top_gram_n,
           CAST(max(c) * 1000000 // sum(c) AS BIGINT) AS repetition_micro
    FROM cnt GROUP BY doc_id
"""


@register(
    "text_repetition_score",
    _repetition_sql(),
    "degenerate-repetition detector: top trigram's share of ALL trigram "
    "occurrences per doc (non-distinct, unlike the dedup shingle "
    "relation) — model-generated loops ('the the the', repeated "
    "paragraphs) score near 1e6 while natural text stays low; the "
    "standard quality gate on synthetic corpora. Two map-side-"
    "combinable hash aggs after one explode; integer micro ratio",
)
def text_repetition_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    from jigsaw_spark.operators.text import shingles_expr, tokens_expr

    # spread BEFORE the explode: a dense parquet file arrives as ONE
    # partition on a local read, and an unspread explode+agg serializes
    # on one core (measured 10s vs 1.5s at sf0.1 — the _spread lesson
    # from operators/dedup.py)
    docs = _t(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism
    )
    shn = docs.select(
        "doc_id",
        F.explode(shingles_expr(tokens_expr("text"))).alias("shingle"),
    )
    cnt = shn.groupBy("doc_id", "shingle").agg(F.count(F.lit(1)).alias("c"))
    return cnt.groupBy("doc_id").agg(
        F.sum("c").cast("bigint").alias("n_grams"),
        F.max("c").cast("bigint").alias("top_gram_n"),
        F.expr("CAST(max(c) * 1000000 div sum(c) AS BIGINT)").alias(
            "repetition_micro"
        ),
    )


# ---------------------------------------------------------------------------
# text_code_detect
# ---------------------------------------------------------------------------

_CODE_CHARS = "{}();=[]<>"


def _char_count_sql(col: str, ch: str) -> str:
    esc = ch.replace("'", "''")
    return f"(length({col}) - length(replace({col}, '{esc}', '')))"


_CODE_SQL = f"""
    SELECT doc_id,
           CAST(length(text) AS BIGINT) AS n_chars,
           CAST({' + '.join(_char_count_sql('text', c) for c in _CODE_CHARS)}
                AS BIGINT) AS code_chars,
           CAST(({' + '.join(_char_count_sql('text', c) for c in _CODE_CHARS)})
                * 1000000 // length(text) AS BIGINT) AS code_micro,
           CAST(CASE WHEN ({' + '.join(_char_count_sql('text', c) for c in _CODE_CHARS)})
                          * 1000000 // length(text) >= 20000
                     THEN 1 ELSE 0 END AS INT) AS is_codey
    FROM documents WHERE length(text) > 0
"""


@register(
    "text_code_detect",
    _CODE_SQL,
    "code-vs-prose router: density of code punctuation "
    f"({_CODE_CHARS!r}) per character in integer micro-units, flagged "
    "at 2% — the gate that routes documents to a code pipeline "
    "(different tokenizer, different dedup granularity) vs the prose "
    "path. Pure map-side length/replace arithmetic (no regex, no "
    "explode) — the cheapest possible corpus scan, and the count "
    "expressions are shared verbatim with the oracle",
)
def text_code_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents").filter(F.length("text") > 0)
    total = sum(
        (F.length("text") - F.length(F.replace(F.col("text"), F.lit(c))))
        for c in _CODE_CHARS
    )
    micro = F.expr(
        f"CAST(({' + '.join(_char_count_sql('text', c) for c in _CODE_CHARS)})"
        " * 1000000 div length(text) AS BIGINT)"
    )
    return docs.select(
        "doc_id",
        F.length("text").cast("bigint").alias("n_chars"),
        total.cast("bigint").alias("code_chars"),
        micro.alias("code_micro"),
        F.when(micro >= 20000, 1).otherwise(0).cast("int").alias("is_codey"),
    )


# ---------------------------------------------------------------------------
# text_pii_scan
# ---------------------------------------------------------------------------

_PII_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"

_PII_IPV4 = r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"

_PII_PHONE = r"\b\d{3}[- ]\d{3}[- ]\d{4}\b"

_PII_SQL = f"""
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(length(regexp_extract_all(text, '{_PII_EMAIL}')))
                AS BIGINT) AS n_emails,
           CAST(sum(length(regexp_extract_all(text, '{_PII_IPV4}')))
                AS BIGINT) AS n_ipv4,
           CAST(sum(length(regexp_extract_all(text, '{_PII_PHONE}')))
                AS BIGINT) AS n_phones,
           CAST(sum(CASE WHEN length(regexp_extract_all(text, '{_PII_EMAIL}'))
                          + length(regexp_extract_all(text, '{_PII_IPV4}'))
                          + length(regexp_extract_all(text, '{_PII_PHONE}')) > 0
                     THEN 1 ELSE 0 END) AS BIGINT) AS docs_with_pii
    FROM documents GROUP BY source
"""


@register(
    "text_pii_scan",
    _PII_SQL,
    "PII census per source (emails / IPv4 shapes / phone shapes by "
    "non-overlapping regexp count): the scrub-before-train audit every "
    "compliance review asks for, aggregated to the source dim so the "
    "report stays tiny at any corpus size. The patterns use only the "
    "regex subset with identical semantics in Java regex and RE2 "
    "(character classes, bounded repetition, \\b). Map-side counts + "
    "ONE source-keyed hash agg",
)
def text_pii_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    em = F.regexp_count("text", F.lit(_PII_EMAIL))
    ip = F.regexp_count("text", F.lit(_PII_IPV4))
    ph = F.regexp_count("text", F.lit(_PII_PHONE))
    return docs.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum(em).cast("bigint").alias("n_emails"),
        F.sum(ip).cast("bigint").alias("n_ipv4"),
        F.sum(ph).cast("bigint").alias("n_phones"),
        F.sum(F.when(em + ip + ph > 0, 1).otherwise(0))
        .cast("bigint")
        .alias("docs_with_pii"),
    )


# ---------------------------------------------------------------------------
# text_tfidf_knn
# ---------------------------------------------------------------------------


def _tfidf_knn_sql() -> str:
    from jigsaw_spark.operators.text import tokens_sql

    return f"""
    WITH tok AS (
      SELECT doc_id, unnest({tokens_sql('text')}) AS term
      FROM documents),
    tf AS (
      SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
      FROM tok GROUP BY 1, 2),
    nd AS MATERIALIZED (
      SELECT count(DISTINCT doc_id) AS n FROM documents),
    df AS (
      SELECT term, CAST(count(*) AS BIGINT) AS df
      FROM tf GROUP BY 1),
    kept AS MATERIALIZED (
      SELECT tf.doc_id, tf.term,
             tf.tf * CAST(round(ln(
               (CAST((SELECT n FROM nd) AS DOUBLE) + 1.0)
               / (CAST(df.df AS DOUBLE) + 1.0)) * 1000, 0) AS BIGINT)
               AS w
      FROM tf JOIN df ON tf.term = df.term
      WHERE df.df <= 100),
    norm AS MATERIALIZED (
      SELECT doc_id, CAST(sum(w * w) AS BIGINT) AS n2
      FROM kept GROUP BY 1),
    dots AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             CAST(sum(a.w * b.w) AS BIGINT) AS dot
      FROM kept a JOIN kept b
        ON a.term = b.term AND a.doc_id < b.doc_id
      GROUP BY 1, 2),
    sym AS (
      SELECT doc_a AS doc_id, doc_b AS neighbor_id, dot FROM dots
      UNION ALL
      SELECT doc_b AS doc_id, doc_a AS neighbor_id, dot FROM dots),
    scored AS (
      SELECT b.doc_id, b.neighbor_id, b.dot,
             CAST(CAST(b.dot AS HUGEINT) * b.dot * 1000000
                  // (CAST(na.n2 AS HUGEINT) * nb.n2) AS BIGINT)
               AS cos2_micro
      FROM sym b
      JOIN norm na ON b.doc_id = na.doc_id
      JOIN norm nb ON b.neighbor_id = nb.doc_id),
    ranked AS (
      SELECT doc_id, neighbor_id, dot, cos2_micro,
             row_number() OVER (PARTITION BY doc_id
               ORDER BY cos2_micro DESC, neighbor_id) AS rnk
      FROM scored)
    SELECT doc_id, neighbor_id, dot, cos2_micro, CAST(rnk AS INT) AS rnk
    FROM ranked WHERE rnk <= 3
"""


@register(
    "text_tfidf_knn",
    _tfidf_knn_sql(),
    "top-3 nearest documents per document under TF-IDF cosine over the "
    "DISCRIMINATIVE vocabulary (terms with df <= 100 — ultra-common "
    "terms carry no similarity signal and are exactly the quadratic "
    "posting lists; the cap is the metric's definition, not an "
    "approximation of an uncapped one): idf pre-rounded to integer "
    "milli-units (identical ln args both engines), weights/dots/norms "
    "all exact integers, neighbors ordered by the exact cross-"
    "multiplied squared cosine dot^2*1e6 div (na*nb) in HUGEINT/"
    "DECIMAL(38,0) — no float sqrt or division anywhere. The sparse "
    "similarity join behind related-docs and semantic-dedup candidate "
    "generation. Shape: explode -> (doc,term) hash-agg -> df-capped "
    "posting join (never all-pairs; per-term fan-out <= cap^2) -> "
    "pair hash-agg -> doc-partitioned top-3 window",
)
def text_tfidf_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    from jigsaw_spark.operators.text import tokens_expr

    docs = _t(spark, sf_dir, "documents")
    tf = (
        docs.select(
            "doc_id", F.explode(tokens_expr("text")).alias("term")
        )
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).cast("bigint").alias("tf"))
    )
    nd = docs.agg(F.countDistinct("doc_id").alias("n"))
    df = tf.groupBy("term").agg(
        F.count(F.lit(1)).cast("bigint").alias("df")
    )
    kept = (
        tf.join(df.filter(F.col("df") <= 100), "term")
        .crossJoin(F.broadcast(nd))
        .select(
            "doc_id",
            "term",
            (
                F.col("tf")
                * F.round(
                    F.log(
                        (F.col("n").cast("double") + 1.0)
                        / (F.col("df").cast("double") + 1.0)
                    )
                    * 1000,
                    0,
                ).cast("bigint")
            ).alias("w"),
        )
        # localCheckpoint: four consumers (norm, both posting-join
        # sides, and their re-expansions) otherwise re-derive the
        # explode -> tf -> df lineage each — 18 scans / 35 shuffles in
        # the r9 plan audit for what is logically 1 scan (the
        # graph_random_walk lesson applied to the TF-IDF family)
        .localCheckpoint()
    )
    norm = kept.groupBy("doc_id").agg(
        F.sum(F.col("w") * F.col("w")).cast("bigint").alias("n2")
    )
    a = kept.select(
        F.col("doc_id").alias("doc_a"), "term", F.col("w").alias("wa")
    )
    b = kept.select(
        F.col("doc_id").alias("doc_b"), "term", F.col("w").alias("wb")
    )
    dots = (
        a.join(b, "term")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.sum(F.col("wa") * F.col("wb")).cast("bigint").alias("dot"))
    )
    both = dots.select(
        F.col("doc_a").alias("doc_id"),
        F.col("doc_b").alias("neighbor_id"),
        "dot",
    ).unionByName(
        dots.select(
            F.col("doc_b").alias("doc_id"),
            F.col("doc_a").alias("neighbor_id"),
            "dot",
        )
    )
    na = norm.select(
        F.col("doc_id"), F.col("n2").alias("na2")
    )
    nb = norm.select(
        F.col("doc_id").alias("neighbor_id"), F.col("n2").alias("nb2")
    )
    scored = (
        both.join(na, "doc_id")
        .join(nb, "neighbor_id")
        .select(
            "doc_id",
            "neighbor_id",
            "dot",
            F.expr(
                "CAST(CAST(dot AS DECIMAL(38,0)) * dot * 1000000"
                " div (CAST(na2 AS DECIMAL(38,0)) * nb2) AS BIGINT)"
            ).alias("cos2_micro"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.desc("cos2_micro"), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w).cast("int"))
        .filter(F.col("rnk") <= 3)
        .select("doc_id", "neighbor_id", "dot", "cos2_micro", "rnk")
    )


# ---------------------------------------------------------------------------
# text_rerank_cross
# ---------------------------------------------------------------------------


def _rerank_sql() -> str:
    from jigsaw_spark.operators.text import tokens_sql

    return f"""
    WITH tok AS (
      SELECT doc_id, unnest({tokens_sql('text')}) AS term
      FROM documents),
    tf AS (
      SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
      FROM tok GROUP BY 1, 2),
    nd AS MATERIALIZED (
      SELECT count(DISTINCT doc_id) AS n FROM documents),
    dfreq AS (
      SELECT term, CAST(count(*) AS BIGINT) AS df
      FROM tf GROUP BY 1),
    kept AS MATERIALIZED (
      SELECT tf.doc_id, tf.term,
             CAST(round(ln(
               (CAST((SELECT n FROM nd) AS DOUBLE) + 1.0)
               / (CAST(dfreq.df AS DOUBLE) + 1.0)) * 1000, 0) AS BIGINT)
               AS idf,
             tf.tf * CAST(round(ln(
               (CAST((SELECT n FROM nd) AS DOUBLE) + 1.0)
               / (CAST(dfreq.df AS DOUBLE) + 1.0)) * 1000, 0) AS BIGINT)
               AS w
      FROM tf JOIN dfreq ON tf.term = dfreq.term
      WHERE dfreq.df <= 100),
    norm AS MATERIALIZED (
      SELECT doc_id, CAST(sum(w * w) AS BIGINT) AS n2,
             CAST(sum(idf) AS BIGINT) AS setsum
      FROM kept GROUP BY 1),
    prs AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             CAST(sum(a.w * b.w) AS BIGINT) AS dot,
             CAST(sum(a.idf) AS BIGINT) AS inter
      FROM kept a JOIN kept b
        ON a.term = b.term AND a.doc_id < b.doc_id
      GROUP BY 1, 2),
    sym AS (
      SELECT doc_a AS doc_id, doc_b AS neighbor_id, dot, inter FROM prs
      UNION ALL
      SELECT doc_b AS doc_id, doc_a AS neighbor_id, dot, inter FROM prs),
    scored AS (
      SELECT s.doc_id, s.neighbor_id, s.inter,
             CAST(CAST(s.dot AS HUGEINT) * s.dot * 1000000
                  // (CAST(na.n2 AS HUGEINT) * nb.n2) AS BIGINT)
               AS cos2_micro,
             CAST(CAST(s.inter AS HUGEINT) * 1000000
                  // (na.setsum + nb.setsum - s.inter) AS BIGINT)
               AS jacc_micro
      FROM sym s
      JOIN norm na ON s.doc_id = na.doc_id
      JOIN norm nb ON s.neighbor_id = nb.doc_id),
    retrieved AS (
      SELECT doc_id, neighbor_id, cos2_micro, jacc_micro,
             CAST(row_number() OVER (PARTITION BY doc_id
               ORDER BY cos2_micro DESC, neighbor_id) AS INT)
               AS rnk_retrieval
      FROM scored)
    SELECT doc_id, neighbor_id, cos2_micro, rnk_retrieval, jacc_micro,
           CAST(row_number() OVER (PARTITION BY doc_id
             ORDER BY jacc_micro DESC, neighbor_id) AS INT) AS rnk_rerank,
           rnk_retrieval
             - CAST(row_number() OVER (PARTITION BY doc_id
                 ORDER BY jacc_micro DESC, neighbor_id) AS INT)
             AS rank_delta
    FROM retrieved WHERE rnk_retrieval <= 5
"""


@register(
    "text_rerank_cross",
    _rerank_sql(),
    "two-stage retrieve-then-rerank: top-5 candidates per document by "
    "TF-IDF cosine (the text_tfidf_knn retrieval score), re-ordered by "
    "an idf-weighted set-overlap soft-Jaccard computed over the PAIR "
    "jointly — the cross-encoder serving shape (cheap retriever fans "
    "out, a pairwise scorer that sees both docs re-ranks; production "
    "swaps the arithmetic scorer for a model UDF over this exact pair "
    "table). idf pre-rounded to integer milli-units; dot/norms/set "
    "sums all exact integers; both scores ordered by exact "
    "cross-multiplied integer ratios (HUGEINT/DECIMAL(38,0)) — no "
    "float division anywhere. Shape: ONE df-capped posting pair-agg "
    "produces BOTH pair statistics (tf-weighted dot AND set-idf "
    "intersection) in the same shuffle; candidate selection and "
    "rerank are doc-partitioned windows over <= 5 rows each",
)
def text_rerank_cross(spark: SparkSession, sf_dir: str) -> DataFrame:
    from jigsaw_spark.operators.text import tokens_expr

    docs = _t(spark, sf_dir, "documents")
    tf = (
        docs.select("doc_id", F.explode(tokens_expr("text")).alias("term"))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).cast("bigint").alias("tf"))
    )
    nd = docs.agg(F.countDistinct("doc_id").alias("n"))
    dfreq = tf.groupBy("term").agg(
        F.count(F.lit(1)).cast("bigint").alias("df")
    )
    idf = F.round(
        F.log(
            (F.col("n").cast("double") + 1.0)
            / (F.col("df").cast("double") + 1.0)
        )
        * 1000,
        0,
    ).cast("bigint")
    kept = (
        tf.join(dfreq.filter(F.col("df") <= 100), "term")
        .crossJoin(F.broadcast(nd))
        .select(
            "doc_id",
            "term",
            idf.alias("idf"),
            (F.col("tf") * idf).alias("w"),
        )
        # localCheckpoint: norm + both pair-join sides re-derive the
        # explode -> tf -> df lineage otherwise (18 scans in the plan
        # audit) — the graph_random_walk lesson, shared with
        # text_tfidf_knn
        .localCheckpoint()
    )
    norm = kept.groupBy("doc_id").agg(
        F.sum(F.col("w") * F.col("w")).cast("bigint").alias("n2"),
        F.sum("idf").cast("bigint").alias("setsum"),
    )
    a = kept.select(
        F.col("doc_id").alias("doc_a"),
        "term",
        F.col("w").alias("wa"),
        F.col("idf").alias("ia"),
    )
    b = kept.select(
        F.col("doc_id").alias("doc_b"), "term", F.col("w").alias("wb")
    )
    prs = (
        a.join(b, "term")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(
            F.sum(F.col("wa") * F.col("wb")).cast("bigint").alias("dot"),
            F.sum("ia").cast("bigint").alias("inter"),
        )
    )
    sym = prs.select(
        F.col("doc_a").alias("doc_id"),
        F.col("doc_b").alias("neighbor_id"),
        "dot",
        "inter",
    ).unionByName(
        prs.select(
            F.col("doc_b").alias("doc_id"),
            F.col("doc_a").alias("neighbor_id"),
            "dot",
            "inter",
        )
    )
    na = norm.select("doc_id", F.col("n2").alias("na2"), F.col("setsum").alias("sa"))
    nb = norm.select(
        F.col("doc_id").alias("neighbor_id"),
        F.col("n2").alias("nb2"),
        F.col("setsum").alias("sb"),
    )
    scored = (
        sym.join(na, "doc_id")
        .join(nb, "neighbor_id")
        .select(
            "doc_id",
            "neighbor_id",
            F.expr(
                "CAST(CAST(dot AS DECIMAL(38,0)) * dot * 1000000"
                " div (CAST(na2 AS DECIMAL(38,0)) * nb2) AS BIGINT)"
            ).alias("cos2_micro"),
            F.expr(
                "CAST(CAST(inter AS DECIMAL(38,0)) * 1000000"
                " div (sa + sb - inter) AS BIGINT)"
            ).alias("jacc_micro"),
        )
    )
    wr = Window.partitionBy("doc_id").orderBy(
        F.desc("cos2_micro"), F.col("neighbor_id")
    )
    retrieved = (
        scored.withColumn(
            "rnk_retrieval", F.row_number().over(wr).cast("int")
        )
        .filter(F.col("rnk_retrieval") <= 5)
    )
    wj = Window.partitionBy("doc_id").orderBy(
        F.desc("jacc_micro"), F.col("neighbor_id")
    )
    return retrieved.withColumn(
        "rnk_rerank", F.row_number().over(wj).cast("int")
    ).select(
        "doc_id",
        "neighbor_id",
        "cos2_micro",
        "rnk_retrieval",
        "jacc_micro",
        "rnk_rerank",
        (F.col("rnk_retrieval") - F.col("rnk_rerank")).alias("rank_delta"),
    )


# ---------------------------------------------------------------------------
# text_seq_packing
# ---------------------------------------------------------------------------

_PACK_BUDGET = 512

_PACK_SHARDS = 8


def packed_cum_cte() -> str:
    """Shared packing prelude (curriculum shuffle + running token sum) —
    the CTEs ``sized``/``sharded``/``packed`` used by ``text_seq_packing``
    here and ``text_packing_efficiency``, kept in ONE place
    so the packer convention cannot drift between the two oracles."""
    from jigsaw_spark.operators.text import tokens_sql

    return f"""sized AS (
      SELECT doc_id, lang,
             CAST(len({tokens_sql('text')}) AS BIGINT) AS n_tok,
             CAST(('0x' || substr(md5('pack|' || CAST(doc_id AS VARCHAR)),
               1, 12)) AS UBIGINT) AS pri
      FROM documents
      WHERE len({tokens_sql('text')}) > 0),
    sharded AS (
      SELECT doc_id, lang, n_tok, pri,
             CAST(CAST(pri % CAST({_PACK_SHARDS} AS UBIGINT) AS BIGINT)
               AS INT) AS shard
      FROM sized),
    packed AS (
      SELECT lang, shard, n_tok,
             sum(n_tok) OVER (PARTITION BY lang, shard
               ORDER BY pri, doc_id
               ROWS UNBOUNDED PRECEDING) AS cum
      FROM sharded)"""


def packed_cum(docs: DataFrame) -> DataFrame:
    """Spark twin of :func:`packed_cum_cte`: (lang, shard, n_tok, cum)
    after the keyed-hash curriculum shuffle and per-(lang, shard)
    running token sum."""
    from jigsaw_spark.operators.text import tokens_expr

    sized = docs.select(
        "doc_id",
        "lang",
        F.size(tokens_expr("text")).cast("bigint").alias("n_tok"),
        md5_int(
            F.md5(F.concat(F.lit("pack|"), F.col("doc_id").cast("string"))), 12
        ).alias("pri"),
    ).filter(F.col("n_tok") > 0)
    sharded = sized.withColumn(
        "shard", F.pmod(F.col("pri"), F.lit(_PACK_SHARDS)).cast("int")
    )
    w = (
        Window.partitionBy("lang", "shard")
        .orderBy("pri", "doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return sharded.withColumn("cum", F.sum("n_tok").over(w)).select(
        "lang", "shard", "n_tok", "cum"
    )


def _seq_packing_sql() -> str:
    return f"""
    WITH {packed_cum_cte()},
    binned AS (
      SELECT lang, shard, n_tok,
             (cum - n_tok) // {_PACK_BUDGET} AS start_bin,
             (cum - 1) // {_PACK_BUDGET} AS end_bin
      FROM packed),
    per_shard AS (
      SELECT lang, shard,
             CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(n_tok) AS BIGINT) AS tokens,
             CAST(max(end_bin) + 1 AS BIGINT) AS n_bins,
             CAST(sum(CASE WHEN end_bin > start_bin THEN 1 ELSE 0 END)
               AS BIGINT) AS crossers,
             CAST(max(cnt) AS BIGINT) AS max_bin_docs
      FROM (SELECT lang, shard, n_tok, start_bin, end_bin,
                   count(*) OVER (PARTITION BY lang, shard, start_bin)
                     AS cnt
            FROM binned)
      GROUP BY 1, 2)
    SELECT lang,
           CAST(sum(n_docs) AS BIGINT) AS n_docs,
           CAST(sum(tokens) AS BIGINT) AS total_tokens,
           CAST(sum(n_bins) AS BIGINT) AS n_bins,
           CAST(sum(crossers) AS BIGINT) AS crossers,
           CAST(sum(tokens) * 1000 // (sum(n_bins) * {_PACK_BUDGET})
             AS BIGINT) AS fill_milli,
           CAST(max(max_bin_docs) AS BIGINT) AS max_bin_docs
    FROM per_shard GROUP BY 1
"""


@register(
    "text_seq_packing",
    _seq_packing_sql(),
    "sequential sequence packing for training curricula: documents are "
    "curriculum-shuffled by a keyed md5 priority within (lang, shard), "
    "concatenated, and split at a 512-token context budget; per lang "
    "reports packed bins, docs, boundary-crossing docs (sequences that "
    "straddle a context boundary), fill ratio in milli, and the "
    "densest bin — the token-budget packer that turns a document "
    "table into fixed-length training sequences (bin of a doc = "
    "running-token-sum div budget; a doc whose start and end bins "
    "differ is truncated/continued across contexts, exactly the "
    "packing loss a data engineer budgets for). Zero-token docs carry "
    "no sequence content and are excluded by definition. Shape: the "
    "running sum is windowed per (lang, shard) so partitions stay "
    "bounded and independent — shard count scales with the corpus and "
    "packing never crosses a shard boundary, exactly as in production "
    "packers; everything after the window is a two-level hash-agg",
)
def text_seq_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    binned = packed_cum(docs).select(
        "lang",
        "shard",
        "n_tok",
        F.expr(f"(cum - n_tok) div {_PACK_BUDGET}").alias("start_bin"),
        F.expr(f"(cum - 1) div {_PACK_BUDGET}").alias("end_bin"),
    )
    wb = Window.partitionBy("lang", "shard", "start_bin")
    per_shard = (
        binned.withColumn("cnt", F.count(F.lit(1)).over(wb))
        .groupBy("lang", "shard")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("n_tok").cast("bigint").alias("tokens"),
            (F.max("end_bin") + 1).cast("bigint").alias("n_bins"),
            F.sum(
                F.when(F.col("end_bin") > F.col("start_bin"), 1).otherwise(0)
            )
            .cast("bigint")
            .alias("crossers"),
            F.max("cnt").cast("bigint").alias("max_bin_docs"),
        )
    )
    return per_shard.groupBy("lang").agg(
        F.sum("n_docs").cast("bigint").alias("n_docs"),
        F.sum("tokens").cast("bigint").alias("total_tokens"),
        F.sum("n_bins").cast("bigint").alias("n_bins"),
        F.sum("crossers").cast("bigint").alias("crossers"),
        F.expr(
            f"CAST(sum(tokens) * 1000 div (sum(n_bins) * {_PACK_BUDGET})"
            " AS BIGINT)"
        ).alias("fill_milli"),
        F.max("max_bin_docs").cast("bigint").alias("max_bin_docs"),
    )


# ---------------------------------------------------------------------------
# text_lexical_diversity
# ---------------------------------------------------------------------------


def _lexical_diversity_sql() -> str:
    from jigsaw_spark.operators.text import tokens_sql

    return f"""
    WITH tok AS (
      SELECT lang, unnest({tokens_sql('text')}) AS tok FROM documents),
    counts AS (
      SELECT lang, tok, CAST(count(*) AS BIGINT) AS c
      FROM tok GROUP BY 1, 2)
    SELECT lang,
           CAST(sum(c) AS BIGINT) AS n_tokens,
           CAST(count(*) AS BIGINT) AS n_types,
           CAST(count(*) * 1000000 // sum(c) AS BIGINT) AS ttr_micro,
           CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_hapax,
           CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) * 1000
                // count(*) AS BIGINT) AS hapax_milli
    FROM counts GROUP BY 1
"""


@register(
    "text_lexical_diversity",
    _lexical_diversity_sql(),
    "per-language type-token ratio and hapax-legomenon share — the "
    "corpus-health twins every curation run reads: templated/boiler-"
    "plate-heavy corpora show a collapsed TTR (few types, many "
    "tokens), OCR- or mojibake-polluted corpora show a bloated hapax "
    "tail (types seen exactly once). Complements text_entropy and the "
    "readability/quality gates with vocabulary-level signals. Exact "
    "integer micro/milli ratios. Shape: one explode -> (lang, token) "
    "hash-agg -> per-lang rollup; the token dim is vocabulary-bounded, "
    "the corpus is scanned once",
)
def text_lexical_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    from jigsaw_spark.operators.text import tokens_expr
    from jigsaw_spark.session import widen

    docs = widen(_t(spark, sf_dir, "documents"))
    counts = (
        docs.select("lang", F.explode(tokens_expr("text")).alias("tok"))
        .groupBy("lang", "tok")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    )
    return counts.groupBy("lang").agg(
        F.sum("c").cast("bigint").alias("n_tokens"),
        F.count(F.lit(1)).cast("bigint").alias("n_types"),
        F.expr(
            "CAST(count(*) * 1000000 div sum(c) AS BIGINT)"
        ).alias("ttr_micro"),
        F.sum(F.when(F.col("c") == 1, 1).otherwise(0))
        .cast("bigint")
        .alias("n_hapax"),
        F.expr(
            "CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) * 1000"
            " div count(*) AS BIGINT)"
        ).alias("hapax_milli"),
    )


# ---------------------------------------------------------------------------
# text_burstiness
# ---------------------------------------------------------------------------


def _burstiness_sql() -> str:
    from jigsaw_spark.operators.text import tokens_sql

    return f"""
    WITH nd AS MATERIALIZED (
      SELECT lang, CAST(count(*) AS BIGINT) AS n_docs
      FROM documents GROUP BY 1),
    tok AS (
      SELECT lang, doc_id, unnest({tokens_sql('text')}) AS tok
      FROM documents),
    per_doc AS (
      SELECT lang, tok, doc_id, CAST(count(*) AS BIGINT) AS c
      FROM tok GROUP BY 1, 2, 3),
    stats AS (
      SELECT lang, tok,
             CAST(count(*) AS BIGINT) AS df,
             CAST(sum(c) AS BIGINT) AS total,
             CAST(sum(CAST(c AS HUGEINT) * c) AS HUGEINT) AS s2
      FROM per_doc GROUP BY 1, 2),
    scored AS (
      SELECT s.lang, s.tok, s.df, s.total,
             CAST((nd.n_docs * s.s2 - CAST(s.total AS HUGEINT) * s.total)
                  * 1000 // (nd.n_docs * s.total) AS BIGINT)
               AS burst_milli
      FROM stats s JOIN nd ON s.lang = nd.lang),
    ranked AS (
      SELECT *, row_number() OVER (
               PARTITION BY lang
               ORDER BY burst_milli DESC, total DESC, tok) AS rn
      FROM scored)
    SELECT lang, CAST(rn AS INT) AS rn, tok,
           CAST(df AS BIGINT) AS df,
           CAST(total AS BIGINT) AS total,
           CAST(burst_milli AS BIGINT) AS burst_milli
    FROM ranked WHERE rn <= 5
"""


@register(
    "text_burstiness",
    _burstiness_sql(),
    "per-language top-5 burstiest terms by the variance-to-mean ratio "
    "of per-document counts (Church-Gale burstiness): function words "
    "spread evenly across documents (VMR near 1) while topical terms "
    "concentrate their occurrences in few documents (VMR >> 1) — the "
    "signal that separates keyword candidates from stopwords WITHOUT "
    "any stopword list, feeding the rake/tfidf keyphrase family and "
    "the quality gates (a corpus whose burstiest terms are markup "
    "tokens is template-polluted). EXACT: with C = total count, S2 = "
    "sum of squared per-doc counts, n = docs in the language, the "
    "n^2-scaled VMR collapses to (n*S2 - C^2) * 1000 div (n*C) — "
    "pure integers, and documents NOT containing a term contribute 0 "
    "to S2, so only posting rows are ever touched (the zeros in the "
    "variance are algebraic, not materialized). Ties: total desc, "
    "then token. Shape: one explode -> (lang, tok, doc) hash-agg -> "
    "(lang, tok) posting rollup; the top-5 window runs over the "
    "vocabulary-bounded term dim, never the corpus",
)
def text_burstiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    from jigsaw_spark.operators.text import tokens_expr
    from jigsaw_spark.session import widen

    docs = widen(_t(spark, sf_dir, "documents"))
    nd = docs.groupBy("lang").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs")
    )
    per_doc = (
        docs.select(
            "lang", "doc_id", F.explode(tokens_expr("text")).alias("tok")
        )
        .groupBy("lang", "tok", "doc_id")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    )
    dec = "decimal(38,0)"
    stats = per_doc.groupBy("lang", "tok").agg(
        F.count(F.lit(1)).cast("bigint").alias("df"),
        F.sum("c").cast("bigint").alias("total"),
        F.sum(F.col("c").cast(dec) * F.col("c")).alias("s2"),
    )
    scored = stats.join(F.broadcast(nd), "lang").select(
        "lang",
        "tok",
        "df",
        "total",
        F.expr(
            "CAST((n_docs * s2 - CAST(total AS DECIMAL(38,0)) * total)"
            " * 1000 div (n_docs * total) AS BIGINT)"
        ).alias("burst_milli"),
    )
    w = Window.partitionBy("lang").orderBy(
        F.desc("burst_milli"), F.desc("total"), F.col("tok")
    )
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 5)
        .select(
            "lang",
            F.col("rn").cast("int").alias("rn"),
            "tok",
            "df",
            "total",
            "burst_milli",
        )
    )


# ---------------------------------------------------------------------------
# text_vocab_growth
# ---------------------------------------------------------------------------


def _vocab_growth_sql() -> str:
    from jigsaw_spark.operators.text import tokens_sql

    return f"""
    WITH bounds AS MATERIALIZED (
      SELECT min(doc_id) AS lo, max(doc_id) AS hi FROM documents),
    decs AS (SELECT unnest(range(10)) AS decile),
    tok AS (
      SELECT d.doc_id, unnest({tokens_sql('text')}) AS tok
      FROM documents d),
    tok_counts AS (
      SELECT t.tok, t.doc_id, count(*) AS c
      FROM tok t GROUP BY 1, 2),
    first_seen AS (
      SELECT tok, min(doc_id) AS first_doc,
             CAST(sum(c) AS BIGINT) AS total
      FROM tok_counts GROUP BY 1),
    dec_docs AS (
      SELECT least((tc.doc_id - (SELECT lo FROM bounds)) * 10
                   // ((SELECT hi - lo FROM bounds) + 1), 9) AS decile,
             CAST(sum(tc.c) AS BIGINT) AS tokens
      FROM tok_counts tc GROUP BY 1),
    dec_types AS (
      SELECT least((fs.first_doc - (SELECT lo FROM bounds)) * 10
                   // ((SELECT hi - lo FROM bounds) + 1), 9) AS decile,
             CAST(count(*) AS BIGINT) AS new_types
      FROM first_seen fs GROUP BY 1),
    merged AS (
      SELECT d.decile,
             CAST(coalesce(dd.tokens, 0) AS BIGINT) AS tokens,
             CAST(coalesce(dt.new_types, 0) AS BIGINT) AS new_types
      FROM decs d
      LEFT JOIN dec_docs dd ON d.decile = dd.decile
      LEFT JOIN dec_types dt ON d.decile = dt.decile)
    SELECT CAST(decile AS INT) AS decile,
           CAST(sum(tokens) OVER (ORDER BY decile) AS BIGINT)
             AS cum_tokens,
           new_types,
           CAST(sum(new_types) OVER (ORDER BY decile) AS BIGINT)
             AS cum_types
    FROM merged
"""


@register(
    "text_vocab_growth",
    _vocab_growth_sql(),
    "the Heaps'-law vocabulary growth curve: the corpus is cut into 10 "
    "deciles of the doc_id VALUE RANGE (a deliberate design choice — "
    "an equal-COUNT cut needs a global rank over every document, a "
    "single-task funnel at 100 TB; the value-range cut is a broadcast "
    "of two bounds and a map-side expression, and parameterizes the "
    "same monotone corpus-order curve); per decile the cumulative "
    "tokens, the NEW types first appearing there (each type "
    "attributed to the decile of its minimum doc_id), and the "
    "cumulative vocabulary — the dedup-effectiveness diagnostic (a "
    "template-polluted corpus flattens early: new documents add "
    "tokens but no types; read before/after dedup to price the "
    "treatment, beside text_lexical_diversity's endpoint TTR). EXACT: "
    "integer counts and floor-division cuts; every decile emits a row "
    "(a 10-row decile dim left-joins both aggregates). Shape: one "
    "explode -> (tok, doc) hash-agg -> per-type min-doc agg "
    "(vocabulary-bounded) and one decile hash-agg — NO global rank, "
    "no window over anything bigger than 10 rows",
)
def text_vocab_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    from jigsaw_spark.operators.text import tokens_expr
    from jigsaw_spark.session import widen

    docs = widen(_t(spark, sf_dir, "documents"))
    bounds = docs.agg(
        F.min("doc_id").alias("lo"), F.max("doc_id").alias("hi")
    )
    tok_counts = (
        docs.select("doc_id", F.explode(tokens_expr("text")).alias("tok"))
        .groupBy("tok", "doc_id")
        .agg(F.count(F.lit(1)).alias("c"))
        .localCheckpoint()
    )
    first_seen = tok_counts.groupBy("tok").agg(
        F.min("doc_id").alias("first_doc"),
        F.sum("c").cast("bigint").alias("total"),
    )
    dec_expr = "least(({col} - lo) * 10 div (hi - lo + 1), 9)"
    dec_docs = (
        tok_counts.crossJoin(F.broadcast(bounds))
        .groupBy(
            F.expr(dec_expr.format(col="doc_id")).alias("decile")
        )
        .agg(F.sum("c").cast("bigint").alias("tokens"))
    )
    dec_types = (
        first_seen.crossJoin(F.broadcast(bounds))
        .groupBy(
            F.expr(dec_expr.format(col="first_doc")).alias("decile")
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("new_types"))
    )
    decs = F.broadcast(
        spark.createDataFrame([(i,) for i in range(10)], "decile int")
    )
    merged = (
        decs.join(
            dec_docs.withColumn(
                "decile", F.col("decile").cast("int")
            ),
            "decile",
            "left",
        )
        .join(
            dec_types.withColumn(
                "decile", F.col("decile").cast("int")
            ),
            "decile",
            "left",
        )
        .select(
            "decile",
            F.coalesce(F.col("tokens"), F.lit(0))
            .cast("bigint")
            .alias("tokens"),
            F.coalesce(F.col("new_types"), F.lit(0))
            .cast("bigint")
            .alias("new_types"),
        )
    )
    wc = Window.orderBy("decile").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return merged.select(
        F.col("decile").cast("int").alias("decile"),
        F.sum("tokens").over(wc).cast("bigint").alias("cum_tokens"),
        "new_types",
        F.sum("new_types").over(wc).cast("bigint").alias("cum_types"),
    )


# ---------------------------------------------------------------------------
# text_packing_efficiency
# ---------------------------------------------------------------------------


def _packing_efficiency_sql() -> str:
    B = _PACK_BUDGET
    return f"""
    WITH {packed_cum_cte()},
    segs AS (
      SELECT lang, shard,
             unnest(range(CAST((cum - n_tok) // {B} AS BIGINT),
                          CAST((cum - 1) // {B} + 1 AS BIGINT))) AS bin,
             cum, n_tok
      FROM packed),
    seglen AS (
      SELECT lang, shard, bin,
             least(cum, (bin + 1) * {B})
               - greatest(cum - n_tok, bin * {B}) AS seg
      FROM segs),
    bins AS (
      SELECT lang, shard, bin,
             CAST(sum(seg) AS BIGINT) AS fill,
             CAST(count(*) AS BIGINT) AS nseg,
             CAST(sum(seg * seg) AS BIGINT) AS ss
      FROM seglen GROUP BY 1, 2, 3)
    SELECT lang,
           CAST(count(*) AS BIGINT) AS n_bins,
           CAST(sum(nseg) AS BIGINT) AS n_segments,
           CAST(sum(nseg) * 1000 // count(*) AS BIGINT)
             AS seg_per_bin_milli,
           CAST(sum({B} - fill) AS BIGINT) AS pad_tokens,
           CAST(sum((fill * fill - ss) // 2) AS BIGINT) AS cross_pairs,
           CAST(sum((fill * fill - ss) // 2) * 1000000
                // sum(fill * (fill - 1) // 2) AS BIGINT)
             AS cross_share_micro
    FROM bins GROUP BY 1
"""


@register(
    "text_packing_efficiency",
    _packing_efficiency_sql(),
    "attention-boundary accounting over text_seq_packing's bins (the "
    "SAME shared packing prelude — plans/queries_r41.packed_cum — so "
    "the packer convention cannot drift): per lang, packed bins, "
    "document segments (= position resets a packed-sequence loader "
    "must emit), segments-per-bin in milli, padding tokens (the short "
    "final bin of each shard), and cross-document attention pairs — "
    "with full attention over a packed 512-token context, token pairs "
    "drawn from DIFFERENT documents number (fill^2 - sum(seg^2))/2 "
    "per bin, reported absolutely and as a share of all intra-bin "
    "pairs in micro. THE packer tradeoff table: padding wastes "
    "compute, packing without boundary-reset masks leaks cross-doc "
    "attention — this prices both sides. EXACT: every column is "
    "integer arithmetic (the pair difference is always even). Shape: "
    "each doc explodes into its bin segments (doc_len/512 + 1 rows, "
    "bounded fan-out), then a two-level hash-agg; the only window is "
    "the shared per-(lang, shard) running sum",
)
def text_packing_efficiency(spark: SparkSession, sf_dir: str) -> DataFrame:
    B = _PACK_BUDGET
    docs = _t(spark, sf_dir, "documents")
    segs = packed_cum(docs).select(
        "lang",
        "shard",
        F.explode(
            F.sequence(
                F.expr(f"(cum - n_tok) div {B}"),
                F.expr(f"(cum - 1) div {B}"),
            )
        ).alias("bin"),
        "cum",
        "n_tok",
    )
    seglen = segs.select(
        "lang",
        "shard",
        "bin",
        F.expr(
            f"least(cum, (bin + 1) * {B})"
            f" - greatest(cum - n_tok, bin * {B})"
        ).alias("seg"),
    )
    bins = seglen.groupBy("lang", "shard", "bin").agg(
        F.sum("seg").cast("bigint").alias("fill"),
        F.count(F.lit(1)).cast("bigint").alias("nseg"),
        F.sum(F.expr("seg * seg")).cast("bigint").alias("ss"),
    )
    return bins.groupBy("lang").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_bins"),
        F.sum("nseg").cast("bigint").alias("n_segments"),
        F.expr("CAST(sum(nseg) * 1000 div count(1) AS BIGINT)").alias(
            "seg_per_bin_milli"
        ),
        F.sum(F.lit(B) - F.col("fill")).cast("bigint").alias("pad_tokens"),
        F.sum(F.expr("(fill * fill - ss) div 2"))
        .cast("bigint")
        .alias("cross_pairs"),
        F.expr(
            "CAST(sum((fill * fill - ss) div 2) * 1000000"
            " div sum(fill * (fill - 1) div 2) AS BIGINT)"
        ).alias("cross_share_micro"),
    )


# ---------------------------------------------------------------------------
# text_dup_gram_mass
# ---------------------------------------------------------------------------


def _dup_mass_sql() -> str:
    from jigsaw_spark.operators.text import shingles_sql, tokens_sql

    return f"""
    WITH toks AS (
      SELECT doc_id, lang, {tokens_sql('text')} AS t FROM documents),
    grams AS (
      SELECT doc_id, lang, unnest({shingles_sql('t', 8)}) AS g
      FROM toks),
    per_gram AS MATERIALIZED (
      SELECT lang, g,
             CAST(count(*) AS BIGINT) AS c,
             CAST(count(DISTINCT doc_id) AS BIGINT) AS d
      FROM grams GROUP BY 1, 2)
    SELECT lang,
           CAST(sum(c) AS BIGINT) AS total_gram_occ,
           CAST(coalesce(sum(CASE WHEN d >= 2 THEN c END), 0) AS BIGINT)
             AS crossdoc_mass,
           CAST(coalesce(sum(CASE WHEN c >= 2 THEN c END), 0) AS BIGINT)
             AS repeated_mass,
           CAST(coalesce(sum(CASE WHEN d >= 2 THEN c END), 0) * 1000
             // sum(c) AS BIGINT) AS crossdoc_milli,
           CAST(coalesce(sum(CASE WHEN c >= 2 THEN c END), 0) * 1000
             // sum(c) AS BIGINT) AS repeated_milli
    FROM per_gram GROUP BY lang
"""


@register(
    "text_dup_gram_mass",
    _dup_mass_sql(),
    "corpus-level duplicate 8-gram mass per lang: fraction of all "
    "8-gram OCCURRENCES in grams seen in >= 2 docs (cross-doc "
    "duplication — the mass near-dup dedup can possibly reclaim) and "
    "in grams seen >= 2 times anywhere (any repetition, within-doc "
    "included). text_repetition scores each doc's INTERNAL dup-gram "
    "fraction (the per-doc Gopher rule); this is the corpus ledger "
    "(the RefinedWeb duplicate-mass view) that prices dedup "
    "aggressiveness before any pair is enumerated. Shape: one explode "
    "-> one (lang, gram) hash-agg -> a |langs|-row rollup; exact "
    "integer masses",
)
def text_dup_gram_mass(spark: SparkSession, sf_dir: str) -> DataFrame:
    from jigsaw_spark.operators.text import shingles_expr, tokens_expr
    from jigsaw_spark.session import widen

    docs = widen(_t(spark, sf_dir, "documents"))
    grams = docs.select(
        "doc_id",
        "lang",
        F.explode(shingles_expr(tokens_expr("text"), 8)).alias("g"),
    )
    # the distinct-doc count is only ever tested against >= 2, and
    # d >= 2 ⟺ min(doc_id) != max(doc_id) — min/max are plain partial
    # aggregates, so this drops the count_distinct Expand machinery
    # (2x the rows through the (lang, g) exchange) outright (r14,
    # guide §2.3)
    per_gram = grams.groupBy("lang", "g").agg(
        F.count(F.lit(1)).cast("bigint").alias("c"),
        (F.min("doc_id") != F.max("doc_id")).alias("x"),
    )
    return per_gram.groupBy("lang").agg(
        F.sum("c").cast("bigint").alias("total_gram_occ"),
        F.coalesce(F.sum(F.when(F.col("x"), F.col("c"))), F.lit(0))
        .cast("bigint")
        .alias("crossdoc_mass"),
        F.coalesce(F.sum(F.when(F.col("c") >= 2, F.col("c"))), F.lit(0))
        .cast("bigint")
        .alias("repeated_mass"),
        F.expr(
            "CAST(coalesce(sum(CASE WHEN x THEN c END), 0) * 1000"
            " div sum(c) AS BIGINT)"
        ).alias("crossdoc_milli"),
        F.expr(
            "CAST(coalesce(sum(CASE WHEN c >= 2 THEN c END), 0) * 1000"
            " div sum(c) AS BIGINT)"
        ).alias("repeated_milli"),
    )


# text_hapax_rate ------------------------------------------------------------


def _hapax_sql() -> str:
    from jigsaw_spark.operators.text import tokens_sql

    return f"""
    WITH toks AS (
      SELECT lang, unnest({tokens_sql('text')}) AS tok
      FROM documents),
    freq AS (
      SELECT lang, tok, CAST(count(*) AS BIGINT) AS c
      FROM toks GROUP BY 1, 2)
    SELECT lang,
           CAST(count(*) AS BIGINT) AS vocab_size,
           CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_hapax,
           CAST(sum(c) AS BIGINT) AS total_occ,
           CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) * 1000
             // count(*) AS BIGINT) AS hapax_vocab_milli,
           CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) * 1000
             // sum(c) AS BIGINT) AS hapax_mass_milli
    FROM freq GROUP BY lang
"""


@register(
    "text_hapax_rate",
    _hapax_sql(),
    "hapax legomena profile per lang: vocabulary size, once-seen "
    "tokens, and the hapax share of the vocabulary and of the token "
    "mass — a healthy natural corpus runs ~400-600 milli hapax vocab "
    "(Zipf); far BELOW means templated/duplicated text (the dedup "
    "signal before any pair is built), far ABOVE means OCR noise or "
    "tokenizer misfires (text_oov_rate's cause upstream). "
    "text_lexical_diversity is per-doc TTR; this is the corpus-level "
    "tail profile next to text_zipf_slope's head fit. Shape: one "
    "explode -> one (lang, token) hash-agg -> a |langs| rollup",
)
def text_hapax_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from jigsaw_spark.operators.text import tokens_expr
    from jigsaw_spark.session import widen

    docs = widen(_t(spark, sf_dir, "documents"))
    freq = docs.select(
        "lang", F.explode(tokens_expr("text")).alias("tok")
    ).groupBy("lang", "tok").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    return freq.groupBy("lang").agg(
        F.count(F.lit(1)).cast("bigint").alias("vocab_size"),
        F.sum(F.when(F.col("c") == 1, 1).otherwise(0))
        .cast("bigint")
        .alias("n_hapax"),
        F.sum("c").cast("bigint").alias("total_occ"),
        F.expr(
            "CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) * 1000"
            " div count(1) AS BIGINT)"
        ).alias("hapax_vocab_milli"),
        F.expr(
            "CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) * 1000"
            " div sum(c) AS BIGINT)"
        ).alias("hapax_mass_milli"),
    )


# text_oov_rate --------------------------------------------------------------


def _oov_rate_sql() -> str:
    from jigsaw_spark.operators.text import tokens_sql

    return f"""
    WITH toks AS (
      SELECT doc_id, lang, doc_id % 2 = 0 AS is_train,
             unnest({tokens_sql('text')}) AS tok
      FROM documents),
    vocab AS MATERIALIZED (
      SELECT tok FROM (
        SELECT tok, CAST(count(*) AS BIGINT) AS c
        FROM toks WHERE is_train GROUP BY 1
        ORDER BY c DESC, tok LIMIT 1000) t),
    vs AS (SELECT CAST(count(*) AS BIGINT) AS vocab_size FROM vocab),
    test AS (
      SELECT t.lang, t.tok, v.tok IS NOT NULL AS known
      FROM toks t LEFT JOIN vocab v ON t.tok = v.tok
      WHERE NOT t.is_train)
    SELECT lang,
           CAST(count(*) AS BIGINT) AS n_tokens,
           CAST(sum(CASE WHEN known THEN 0 ELSE 1 END) AS BIGINT)
             AS n_oov,
           CAST(sum(CASE WHEN known THEN 0 ELSE 1 END) * 1000
             // count(*) AS BIGINT) AS oov_milli,
           (SELECT vocab_size FROM vs) AS vocab_size
    FROM test GROUP BY lang
"""


@register(
    "text_oov_rate",
    _oov_rate_sql(),
    "out-of-vocabulary rate against a frozen top-1000 train vocab: "
    "tokens counted on the doc_id%2 train half, the top-1000 by "
    "(count DESC, token ASC — a total order, so the LIMIT boundary "
    "cannot flake), then the held-out half's token occurrences scored "
    "per lang: total, OOV count, milli OOV rate. text_vocab_growth "
    "measures how fast vocabulary GROWS; this measures how much a "
    "FIXED vocabulary misses — the tokenizer-coverage number that "
    "decides vocab size and flags langs a vocab underserves (high "
    "OOV = fertility blow-up downstream, text_token_fertility's "
    "cause). Shape: one explode, one train-vocab hash-agg + "
    "TakeOrdered(1000), one vocab-keyed left join, one |langs| rollup",
)
def text_oov_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from jigsaw_spark.operators.text import tokens_expr
    from jigsaw_spark.session import widen

    docs = widen(_t(spark, sf_dir, "documents"))
    toks = docs.select(
        "lang",
        (F.col("doc_id") % 2 == 0).alias("is_train"),
        F.explode(tokens_expr("text")).alias("tok"),
    ).localCheckpoint()
    vocab = (
        toks.filter(F.col("is_train"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
        .orderBy(F.desc("c"), F.col("tok"))
        .limit(1000)
        .select(F.col("tok").alias("vtok"))
    )
    vs = vocab.agg(
        F.count(F.lit(1)).cast("bigint").alias("vocab_size")
    )
    test = (
        toks.filter(~F.col("is_train"))
        .join(F.broadcast(vocab), toks["tok"] == F.col("vtok"), "left")
    )
    return (
        test.groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_tokens"),
            F.sum(F.when(F.col("vtok").isNull(), 1).otherwise(0))
            .cast("bigint")
            .alias("n_oov"),
            F.expr(
                "CAST(sum(CASE WHEN vtok IS NULL THEN 1 ELSE 0 END)"
                " * 1000 div count(1) AS BIGINT)"
            ).alias("oov_milli"),
        )
        .crossJoin(F.broadcast(vs))
        .select(
            "lang", "n_tokens", "n_oov", "oov_milli", "vocab_size"
        )
    )
