"""Deduplication queries (``dedup_*``): exact, line, substring, MinHash,
SimHash, embedding and cross-modal near-dup detection and their audits.

The DuckDB twins of the shared keeper machinery (``_TOKS_CTE``,
``_SHINGLES_CTE``, ``_SIMHASH_CTE``, ``_SIMHASH_KEEPER_CTE``,
``_KEEPER_EDGES_CTE``, ``_keeper_cluster_sql``) live here and are imported by
the families that build on keepers.

Scale: every pair source is banded (LSH bands, SimHash bands, keeper pairs),
never all-pairs, and keeper election is C4-ordered, so replicated rows
collapse before any pair is enumerated. Components run through the
size-adaptive ``connected_components`` operator (single-task union-find
under the edge threshold, pointer-jumping label propagation above it).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from jigsaw_spark.operators.dedup import (
    exact_dedup,
    minhash_lsh_pairs,
    simhash,
    simhash_pairs,
)
from jigsaw_spark.operators.text import fingerprint_sql, tokens_expr, tokens_sql
from jigsaw_spark.plans.mm import _PHASH_BYTES_CTE, mm_phash_near_dup
from jigsaw_spark.plans.registry import QUERIES, _t, register


_TOKS_CTE = f"toks AS (SELECT doc_id, {tokens_sql('text')} AS t FROM documents)"

_SHINGLES_CTE = (
    "sh AS (SELECT DISTINCT doc_id, "
    "unnest(list_transform(range(1, len(t) - 1), "
    "i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS shingle "
    "FROM toks WHERE len(t) >= 3)"
)


# Shared oracle CTE chain for the C4-ordered pair scorers
# (operators/dedup.banded_pair_scores): exact-dedup keepers → shingles over
# keepers only → 16 md5-seeded minhashes → 4 bands × 4 rows → LSH candidate
# pairs → exact per-candidate intersections. AS MATERIALIZED on every
# multi-referenced CTE — DuckDB inlines them otherwise and re-evaluates the
# whole upstream chain per reference (the r4 pagerank-oracle lesson).
_BANDED_PAIR_CTES = f"""{_TOKS_CTE},
    fpt AS (SELECT doc_id, t, {fingerprint_sql('t')} AS fp FROM toks),
    keep AS MATERIALIZED (
      SELECT doc_id, t FROM (
        SELECT doc_id, t,
               doc_id = min(doc_id) OVER (PARTITION BY fp) AS is_keeper
        FROM fpt) k
      WHERE is_keeper),
    sh AS MATERIALIZED (
      SELECT DISTINCT doc_id,
             unnest(list_transform(range(1, len(t) - 1),
                    i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS shingle
      FROM keep WHERE len(t) >= 3),
    mh AS (
      SELECT doc_id, seed,
             min(md5(CAST(seed AS VARCHAR) || '|' || shingle)) AS mh
      FROM sh CROSS JOIN (SELECT unnest(range(16)) AS seed) seeds
      GROUP BY doc_id, seed),
    bands AS MATERIALIZED (
      SELECT doc_id, seed // 4 AS band,
             string_agg(mh, ',' ORDER BY seed) AS sig
      FROM mh GROUP BY doc_id, band),
    cand AS MATERIALIZED (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM bands a
      JOIN bands b ON a.band = b.band AND a.sig = b.sig
                  AND a.doc_id < b.doc_id),
    sizes AS MATERIALIZED (
      SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
    inter AS MATERIALIZED (
      SELECT c.doc_a, c.doc_b, count(*) AS inter
      FROM cand c
      JOIN sh a ON a.doc_id = c.doc_a
      JOIN sh b ON b.doc_id = c.doc_b AND b.shingle = a.shingle
      GROUP BY 1, 2)"""


# ---------------------------------------------------------------------------
# Deduplication
# ---------------------------------------------------------------------------


@register(
    "dedup_exact",
    f"""
    WITH {_TOKS_CTE},
    fp AS (SELECT doc_id, {fingerprint_sql('t')} AS fp FROM toks)
    SELECT doc_id,
           min(doc_id) OVER (PARTITION BY fp) AS keeper,
           doc_id <> min(doc_id) OVER (PARTITION BY fp) AS is_dup
    FROM fp
    """,
    "exact dedup: canonical-keeper assignment by normalization fingerprint",
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return exact_dedup(docs, "doc_id").select("doc_id", "keeper", "is_dup")


@register(
    "dedup_ngram_jaccard",
    f"""
    WITH {_BANDED_PAIR_CTES}
    SELECT doc_a, doc_b,
           round(inter / (sa.sz + sb.sz - inter), 4) AS jaccard
    FROM inter
    JOIN sizes sa ON doc_a = sa.doc_id
    JOIN sizes sb ON doc_b = sb.doc_id
    WHERE inter / (sa.sz + sb.sz - inter) >= 0.8
    """,
    "near-dup pairs by exact trigram-set Jaccard >= 0.8, C4-ordered "
    "(r6 scale-safe default): exact-dedup keepers -> MinHash-LSH "
    "candidates -> exact intersection ONLY per candidate pair. The "
    "posting-list self-join (quadratic in posting density — 18.6x at "
    "the x10 probe) never runs; work is linear in candidates. The "
    "uncapped exact operator (ngram_jaccard_pairs) stays in the "
    "library for sampled tuning runs.",
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    from jigsaw_spark.operators.dedup import banded_pair_scores

    docs = _t(spark, sf_dir, "documents")
    return banded_pair_scores(docs, "doc_id", threshold=0.8, measure="jaccard")


@register(
    "dedup_minhash_lsh",
    f"""
    WITH {_TOKS_CTE}, {_SHINGLES_CTE},
    mh AS (
      SELECT doc_id, seed,
             min(md5(CAST(seed AS VARCHAR) || '|' || shingle)) AS mh
      FROM sh CROSS JOIN (SELECT unnest(range(16)) AS seed) seeds
      GROUP BY doc_id, seed),
    bands AS (
      SELECT doc_id, seed // 4 AS band,
             string_agg(mh, ',' ORDER BY seed) AS sig
      FROM mh GROUP BY doc_id, band)
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM bands a
    JOIN bands b ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id
    """,
    "MinHash-LSH candidates: 16 md5-seeded minhashes, 4 bands x 4 rows",
)
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return minhash_lsh_pairs(docs, "doc_id", num_hashes=16, bands=4)


_SIMHASH_CTE = f"""
    {_TOKS_CTE},
    tok_counts AS (
      SELECT doc_id, tok, count(*) AS cnt, md5(tok) AS h
      FROM (SELECT doc_id, unnest(t) AS tok FROM toks)
      GROUP BY doc_id, tok),
    scored AS (
      SELECT doc_id, j,
             sum(cnt * (2 * (CAST(floor(
               (strpos('0123456789abcdef', substr(h, CAST(j // 4 + 1 AS INT), 1)) - 1)
               / power(2, 3 - (j % 4))) AS BIGINT) % 2) - 1)) AS score
      FROM tok_counts CROSS JOIN (SELECT unnest(range(32)) AS j) bj
      GROUP BY doc_id, j),
    sig AS (
      SELECT doc_id,
             CAST(sum(CASE WHEN score > 0 THEN CAST(power(2, j) AS BIGINT)
                           ELSE 0 END) AS BIGINT) AS simhash
      FROM scored GROUP BY doc_id)
"""


# SimHash signatures over EXACT-DEDUP KEEPERS only — the C4-ordered twin of
# _SIMHASH_CTE for pair-graph consumers (graph_modularity): byte-identical
# copies collapse to their keeper before pairing, so duplication cannot
# densify the pair graph into cliques (the r5 ×10-probe failure mode).
_SIMHASH_KEEPER_CTE = f"""
    {_TOKS_CTE},
    fpt AS (SELECT doc_id, t, {fingerprint_sql('t')} AS fp FROM toks),
    ktoks AS MATERIALIZED (
      SELECT doc_id, t FROM (
        SELECT doc_id, t,
               doc_id = min(doc_id) OVER (PARTITION BY fp) AS is_keeper
        FROM fpt) k
      WHERE is_keeper),
    tok_counts AS (
      SELECT doc_id, tok, count(*) AS cnt, md5(tok) AS h
      FROM (SELECT doc_id, unnest(t) AS tok FROM ktoks)
      GROUP BY doc_id, tok),
    scored AS (
      SELECT doc_id, j,
             sum(cnt * (2 * (CAST(floor(
               (strpos('0123456789abcdef', substr(h, CAST(j // 4 + 1 AS INT), 1)) - 1)
               / power(2, 3 - (j % 4))) AS BIGINT) % 2) - 1)) AS score
      FROM tok_counts CROSS JOIN (SELECT unnest(range(32)) AS j) bj
      GROUP BY doc_id, j),
    sig AS (
      SELECT doc_id,
             CAST(sum(CASE WHEN score > 0 THEN CAST(power(2, j) AS BIGINT)
                           ELSE 0 END) AS BIGINT) AS simhash
      FROM scored GROUP BY doc_id)
"""


# DuckDB twin of operators/dedup.keeper_edges (advisor r9 #1): the
# keeper-graph pair list + symmetric edge list shared by the
# graph family (and dq, ann, p, curation). Single definition so the keeper
# convention (exact dedup -> SimHash Hamming <= 2) cannot drift.
_KEEPER_EDGES_CTE = f"""{_SIMHASH_KEEPER_CTE},
    prs AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM sig a JOIN sig b ON a.doc_id < b.doc_id
      WHERE bit_count(xor(a.simhash, b.simhash)) <= 2),
    edges AS MATERIALIZED (
      SELECT doc_a AS u, doc_b AS v FROM prs
      UNION
      SELECT doc_b AS u, doc_a AS v FROM prs)"""


@register(
    "dedup_simhash",
    f"""
    WITH {_SIMHASH_CTE}
    SELECT doc_id, simhash FROM sig
    """,
    "SimHash 32-bit signatures: token-frequency-weighted bit majority",
)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return simhash(docs, "doc_id").select("doc_id", "simhash")


@register(
    "dedup_simhash_pairs",
    f"""
    WITH {_SIMHASH_CTE}
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
    FROM sig a JOIN sig b ON a.doc_id < b.doc_id
    WHERE bit_count(xor(a.simhash, b.simhash)) <= 2
    """,
    "SimHash near-dup pairs: Hamming distance <= 2",
)
def dedup_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return simhash_pairs(docs, "doc_id", max_hamming=2)


@register(
    "dedup_components",
    f"""
    WITH RECURSIVE {_SIMHASH_CTE},
    pairs AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM sig a JOIN sig b ON a.doc_id < b.doc_id
      WHERE bit_count(xor(a.simhash, b.simhash)) <= 2),
    edges AS (
      SELECT doc_a AS u, doc_b AS v FROM pairs
      UNION
      SELECT doc_b AS u, doc_a AS v FROM pairs),
    reach(u, v) AS (
      SELECT u, v FROM edges
      UNION
      SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u
      WHERE e.v <> r.u)
    SELECT u AS doc_id, least(u, min(v)) AS component
    FROM reach GROUP BY u
    """,
    "duplicate clusters: connected components (min reachable id) over "
    "SimHash near-dup pairs — pairwise evidence → keeper groups; Spark "
    "side is iterative min-label propagation, oracle is a recursive CTE",
)
def dedup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    from jigsaw_spark.operators.dedup import connected_components

    docs = _t(spark, sf_dir, "documents")
    pairs = simhash_pairs(docs, "doc_id", max_hamming=2)
    return connected_components(pairs)


_BOILER = (
    "standard legal disclaimer all rights reserved reproduction prohibited "
    "without express written consent of the publisher"
)


@register(
    "dedup_lsh_capped",
    f"""
    WITH src AS (
      SELECT doc_id,
             CASE WHEN doc_id % 5 = 0 THEN '{_BOILER}' ELSE text END AS text
      FROM documents),
    toks AS (SELECT doc_id, {tokens_sql('text')} AS t FROM src),
    {_SHINGLES_CTE},
    mh AS (
      SELECT doc_id, seed,
             min(md5(CAST(seed AS VARCHAR) || '|' || shingle)) AS mh
      FROM sh CROSS JOIN (SELECT unnest(range(16)) AS seed) seeds
      GROUP BY doc_id, seed),
    bands AS (
      SELECT doc_id, seed // 4 AS band,
             string_agg(mh, ',' ORDER BY seed) AS sig
      FROM mh GROUP BY doc_id, band),
    sized AS (SELECT band, sig, count(*) AS n FROM bands GROUP BY band, sig),
    small AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM bands a
      JOIN bands b ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id
      JOIN sized s ON s.band = a.band AND s.sig = a.sig
      WHERE s.n <= 10),
    chains AS (
      SELECT lag(a.doc_id) OVER (
               PARTITION BY a.band, a.sig ORDER BY a.doc_id) AS doc_a,
             a.doc_id AS doc_b
      FROM bands a JOIN sized s ON s.band = a.band AND s.sig = a.sig
      WHERE s.n > 10)
    SELECT DISTINCT doc_a, doc_b FROM (
      SELECT doc_a, doc_b FROM small
      UNION ALL
      SELECT doc_a, doc_b FROM chains WHERE doc_a IS NOT NULL)
    """,
    "MinHash-LSH with the skew cap EXERCISED: 20% of the corpus is forced "
    "to one boilerplate text, collapsing to a single signature per band "
    "(the 100 TB templated-page hazard). Buckets > 10 emit a sorted-id "
    "chain (linear fan-out, components-equivalent) instead of quadratic "
    "all-pairs; buckets <= 10 keep exact all-pairs. Oracle replays both "
    "regimes relationally (lag window = the chain).",
)
def dedup_lsh_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents").withColumn(
        "text",
        F.when(F.col("doc_id") % 5 == 0, F.lit(_BOILER)).otherwise(
            F.col("text")
        ),
    )
    return minhash_lsh_pairs(docs, "doc_id", num_hashes=16, bands=4, max_bucket=10)


@register(
    "dedup_end_to_end",
    f"""
    WITH RECURSIVE {_TOKS_CTE}, {_SHINGLES_CTE},
    mh AS (
      SELECT doc_id, seed,
             min(md5(CAST(seed AS VARCHAR) || '|' || shingle)) AS mh
      FROM sh CROSS JOIN (SELECT unnest(range(16)) AS seed) seeds
      GROUP BY doc_id, seed),
    bands AS (
      SELECT doc_id, seed // 4 AS band,
             string_agg(mh, ',' ORDER BY seed) AS sig
      FROM mh GROUP BY doc_id, band),
    pairs AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM bands a
      JOIN bands b ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id),
    edges AS (
      SELECT doc_a AS u, doc_b AS v FROM pairs
      UNION SELECT doc_b AS u, doc_a AS v FROM pairs),
    reach(u, v) AS (
      SELECT u, v FROM edges
      UNION
      SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u WHERE e.v <> r.u),
    comp AS (
      SELECT u AS doc_id, least(u, min(v)) AS component
      FROM reach GROUP BY u),
    labeled AS (
      SELECT d.doc_id, COALESCE(c.component, d.doc_id) AS component
      FROM documents d LEFT JOIN comp c ON d.doc_id = c.doc_id)
    SELECT count(*) AS n_docs,
           count(CASE WHEN doc_id = component THEN 1 END) AS n_keepers,
           count(CASE WHEN doc_id <> component THEN 1 END) AS n_dropped
    FROM labeled
    """,
    "end-to-end near-dedup: MinHash-LSH candidate pairs → connected "
    "components (min-reachable-id clusters) → keeper = component "
    "representative → corpus survival stats. The full pipeline a 100 TB "
    "curation run executes: signature kernel (map-only) → ONE bucket "
    "shuffle → size-adaptive CC → broadcast-joined labels; oracle replays "
    "LSH + a recursive-CTE closure",
)
def dedup_end_to_end(spark: SparkSession, sf_dir: str) -> DataFrame:
    from jigsaw_spark.operators.dedup import connected_components

    docs = _t(spark, sf_dir, "documents")
    pairs = minhash_lsh_pairs(docs, "doc_id", num_hashes=16, bands=4)
    comp = connected_components(pairs)
    labeled = docs.select("doc_id").join(comp, "doc_id", "left").select(
        "doc_id", F.coalesce("component", F.col("doc_id")).alias("component")
    )
    return labeled.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.count(F.when(F.col("doc_id") == F.col("component"), 1)).alias(
            "n_keepers"
        ),
        F.count(F.when(F.col("doc_id") != F.col("component"), 1)).alias(
            "n_dropped"
        ),
    )


# ---------------------------------------------------------------------------
# URL canonicalization: the dedup key for web corpora. Synthetic URLs get
# the standard normalizations — lowercase scheme+host, tracking params
# (utm_*) stripped, fragment dropped — then dedup-count per canonical
# host. Everything is split_part / lambda-filter string algebra shared by
# both engines; zero shuffle except the final per-host rollup.
# ---------------------------------------------------------------------------


@register(
    "dedup_url_canon",
    """
    WITH urls AS (
      SELECT doc_id,
             'https://' || upper(substr(source, 1, 1)) || substr(source, 2)
               || '.Example.COM/Docs/' || doc_id
               || '?utm_source=feed&id=' || doc_id % 7 || '&utm_c=x#frag'
               AS url
      FROM documents
    ), parts AS (
      SELECT doc_id,
             lower(split_part(url, '/', 3)) AS host,
             split_part(split_part(url, '?', 1), '/', 5) AS path_leaf,
             array_to_string(
               list_filter(
                 str_split(split_part(split_part(url, '?', 2), '#', 1), '&'),
                 x -> NOT starts_with(x, 'utm_')),
               '&') AS clean_query
      FROM urls
    )
    SELECT host,
           count(*) AS n_docs,
           count(DISTINCT 'https://' || host || '/docs/' || path_leaf ||
                 CASE WHEN clean_query = '' THEN '' ELSE '?' || clean_query END)
             AS n_canonical
    FROM parts
    GROUP BY host
    ORDER BY host
    """,
    "URL canonicalization for web-corpus dedup: lowercase host, strip "
    "utm_* params and fragment via shared split/lambda string algebra, "
    "then per-host canonical-URL counts",
)
def dedup_url_canon(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    url = F.concat(
        F.lit("https://"),
        F.upper(F.substring("source", 1, 1)),
        F.expr("substring(source, 2)"),
        F.lit(".Example.COM/Docs/"),
        F.col("doc_id").cast("string"),
        F.lit("?utm_source=feed&id="),
        (F.col("doc_id") % 7).cast("string"),
        F.lit("&utm_c=x#frag"),
    )
    parts = docs.select(
        "doc_id",
        F.lower(F.split_part(url, F.lit("/"), F.lit(3))).alias("host"),
        F.split_part(
            F.split_part(url, F.lit("?"), F.lit(1)), F.lit("/"), F.lit(5)
        ).alias("path_leaf"),
        F.array_join(
            F.filter(
                F.split(
                    F.split_part(
                        F.split_part(url, F.lit("?"), F.lit(2)),
                        F.lit("#"),
                        F.lit(1),
                    ),
                    "&",
                ),
                lambda x: ~x.startswith("utm_"),
            ),
            "&",
        ).alias("clean_query"),
    )
    canonical = F.concat(
        F.lit("https://"),
        F.col("host"),
        F.lit("/docs/"),
        F.col("path_leaf"),
        F.when(F.col("clean_query") == "", F.lit("")).otherwise(
            F.concat(F.lit("?"), F.col("clean_query"))
        ),
    )
    return (
        parts.select("host", canonical.alias("canon"))
        .groupBy("host")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.count_distinct("canon").alias("n_canonical"),
        )
        .orderBy("host")
    )


# ---------------------------------------------------------------------------
# Exact dedup keeping the BEST representative: group by content hash, keep
# the row winning a (quality, tiebreak) comparator — the curation variant
# of dropDuplicates where survivorship is a policy, not an accident.
# max_by with a struct comparator does it in ONE hash aggregate (no
# window, no second pass); ties resolve by lowest doc_id, so survivorship
# is total and engine-independent.
# ---------------------------------------------------------------------------


@register(
    "dedup_exact_keep_best",
    """
    SELECT md5(text) AS content_key,
           count(*) AS n_copies,
           max(n_chars) AS best_chars,
           min(CASE WHEN rnk = 1 THEN doc_id END) AS kept_doc
    FROM (
      SELECT doc_id, text, n_chars,
             row_number() OVER (
               PARTITION BY md5(text)
               ORDER BY n_chars DESC, doc_id) AS rnk
      FROM documents)
    GROUP BY md5(text)
    ORDER BY content_key
    """,
    "policy dedup: per content-hash group keep the longest document "
    "(lowest id on ties) via a (quality, -id) max_by comparator — one "
    "hash aggregate, no window in the Spark plan",
)
def dedup_exact_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    # comparator struct: higher n_chars wins; ties -> LOWER doc_id, so the
    # max-struct carries a negated id
    best = F.max_by(
        F.col("doc_id"),
        F.struct(F.col("n_chars").alias("q"), (-F.col("doc_id")).alias("t")),
    )
    return (
        docs.select(F.md5(F.col("text").cast("binary")).alias("content_key"),
                    "doc_id", "n_chars")
        .groupBy("content_key")
        .agg(
            F.count(F.lit(1)).alias("n_copies"),
            F.max("n_chars").alias("best_chars"),
            best.alias("kept_doc"),
        )
        .orderBy("content_key")
    )


# DuckDB replay of `similarity.ivf_assign` over the deterministic k=8
# codebook (vec_id < 8) — same CTE the ann_ivf_assign oracle uses.
_CELLS_CTE = """
    cent AS (
      SELECT vec_id AS cid, embedding AS cvec FROM embeddings WHERE vec_id < 8
    ), scored AS (
      SELECT e.vec_id, c.cid,
             round(list_cosine_similarity(e.embedding::DOUBLE[],
                                          c.cvec::DOUBLE[]), 9) AS cos
      FROM embeddings e CROSS JOIN cent c
    ), cells AS (
      SELECT vec_id, cid AS cell FROM (
        SELECT vec_id, cid,
               row_number() OVER (PARTITION BY vec_id
                                  ORDER BY cos DESC, cid) AS rn
        FROM scored) t
      WHERE rn = 1
    )"""


@register(
    "dedup_semantic",
    f"""
    WITH {_CELLS_CTE},
    dup AS (
      SELECT b.vec_id, min(a.vec_id) AS dup_of
      FROM cells a JOIN cells b ON a.cell = b.cell AND a.vec_id < b.vec_id
      JOIN embeddings ea ON ea.vec_id = a.vec_id
      JOIN embeddings eb ON eb.vec_id = b.vec_id
      WHERE round(list_cosine_similarity(ea.embedding::DOUBLE[],
                                         eb.embedding::DOUBLE[]), 9) >= 0.4
      GROUP BY b.vec_id)
    SELECT c.vec_id, c.cell, d.dup_of,
           d.dup_of IS NOT NULL AS is_dup
    FROM cells c LEFT JOIN dup d ON c.vec_id = d.vec_id
    """,
    "SemDeDup: k-means-cell-restricted cosine near-dup marking (keep "
    "min-key per pair) — map-only cell assignment, ONE cell-keyed "
    "shuffle, JVM cosine, hash-agg survivorship",
)
def dedup_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    from jigsaw_spark.operators.dedup import semantic_dedup

    emb = _t(spark, sf_dir, "embeddings")
    centroids = [
        (r["vec_id"], list(r["embedding"]))
        for r in emb.filter(F.col("vec_id") < 8).collect()
    ]
    return semantic_dedup(emb, centroids, threshold=0.4)


_LINE_W = 5  # words per synthetic line (the corpus has no raw newlines)


# Build the identical pseudo-lined text on both engines: tokens chunked
# into 5-word lines joined by \n. DuckDB list slices are 1-based inclusive.
_PRE_SQL = f"""
    w AS (
      SELECT doc_id, {tokens_sql("text")} AS ws FROM documents
    ), pre AS (
      SELECT doc_id,
             CASE WHEN len(ws) >= 1 THEN
               array_to_string(
                 list_transform(
                   range(0, CAST(ceil(len(ws) / {_LINE_W}.0) AS INT)),
                   i -> array_to_string(ws[(i*{_LINE_W}+1):(i*{_LINE_W}+{_LINE_W})], ' ')),
                 chr(10))
             ELSE '' END AS ltext
      FROM w
    )"""


def _pre_lines(docs: DataFrame) -> DataFrame:
    ws = tokens_expr("text")
    nl = F.ceil(F.size(ws) / F.lit(float(_LINE_W))).cast("int")
    ltext = F.when(
        F.size(ws) >= 1,
        F.array_join(
            F.transform(
                F.sequence(F.lit(0), nl - 1),
                lambda i: F.array_join(
                    F.slice(ws, i * _LINE_W + 1, _LINE_W), " "
                ),
            ),
            "\n",
        ),
    ).otherwise(F.lit(""))
    return docs.select("doc_id", ltext.alias("ltext"))


@register(
    "dedup_lines",
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
    )
    SELECT doc_id,
           string_agg(line, chr(10) ORDER BY idx) AS clean_text,
           count(*) AS n_lines_kept
    FROM lines
    WHERE md5(trim(line)) NOT IN (SELECT fp FROM dup)
    GROUP BY doc_id
    """,
    "C4 repeated-line dedup: posexplode -> ONE fp hash-agg (two-phase "
    "distinct-doc count) -> left-anti on fp (exchange reuse) -> ONE "
    "doc-keyed reassembly agg; nothing quadratic, dup set never collected",
)
def dedup_lines_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from jigsaw_spark.operators.dedup import dedup_lines

    docs = _t(spark, sf_dir, "documents")
    return dedup_lines(_pre_lines(docs), "doc_id", "ltext", "\n", min_docs=2)


@register(
    "dedup_lsh_recall",
    f"""
    WITH {_TOKS_CTE}, {_SHINGLES_CTE},
    sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2),
    truth AS (
      SELECT doc_a, doc_b FROM inter
      JOIN sizes sa ON doc_a = sa.doc_id
      JOIN sizes sb ON doc_b = sb.doc_id
      WHERE inter / (sa.sz + sb.sz - inter) >= 0.5),
    mh AS (
      SELECT doc_id, seed,
             min(md5(CAST(seed AS VARCHAR) || '|' || shingle)) AS mh
      FROM sh CROSS JOIN (SELECT unnest(range(16)) AS seed) seeds
      GROUP BY doc_id, seed),
    bands AS (
      SELECT doc_id, seed // 4 AS band,
             string_agg(mh, ',' ORDER BY seed) AS sig
      FROM mh GROUP BY doc_id, band),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM bands a
      JOIN bands b ON a.band = b.band AND a.sig = b.sig
                  AND a.doc_id < b.doc_id),
    joined AS (
      SELECT coalesce(t.in_t, 0) AS in_t, coalesce(c.in_c, 0) AS in_c
      FROM (SELECT doc_a, doc_b, 1 AS in_t FROM truth) t
      FULL OUTER JOIN (SELECT doc_a, doc_b, 1 AS in_c FROM cand) c
      USING (doc_a, doc_b))
    SELECT CAST(sum(in_t) AS BIGINT) AS n_truth,
           CAST(sum(in_c) AS BIGINT) AS n_cand,
           CAST(sum(in_t * in_c) AS BIGINT) AS n_hit,
           round(CAST(sum(in_t * in_c) AS DOUBLE)
                 / nullif(sum(in_t), 0), 4) AS recall,
           round(CAST(sum(in_t * in_c) AS DOUBLE)
                 / nullif(sum(in_c), 0), 4) AS precision
    FROM joined
    """,
    "self-evaluating dedup: MinHash-LSH candidate recall/precision "
    "against exact trigram-Jaccard>=0.5 ground truth — the tuning query "
    "for (num_hashes, bands) at scale; both sides are the production "
    "operators, joined full-outer and counted in one agg",
)
def dedup_lsh_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    from jigsaw_spark.operators.dedup import (
        minhash_lsh_pairs,
        ngram_jaccard_pairs,
    )

    docs = _t(spark, sf_dir, "documents")
    # max_posting caps the exact-truth inverted-index self-join — without
    # it the truth side is quadratic on boilerplate shingles. 1000 never
    # binds at sf0.01 (500 docs — SQL twin stays the uncapped form,
    # asserted equal in tests/test_r4_ops.py), and at 100 TB this tuning
    # query runs on a sample anyway; the cap makes it safe to point at
    # the full corpus by mistake.
    truth = ngram_jaccard_pairs(
        docs, "doc_id", threshold=0.5, max_posting=1000
    ).select("doc_a", "doc_b", F.lit(1).alias("in_t"))
    cand = minhash_lsh_pairs(docs, "doc_id", num_hashes=16, bands=4).select(
        "doc_a", "doc_b", F.lit(1).alias("in_c")
    )
    joined = truth.join(cand, ["doc_a", "doc_b"], "full").select(
        F.coalesce("in_t", F.lit(0)).alias("in_t"),
        F.coalesce("in_c", F.lit(0)).alias("in_c"),
    )
    hit = F.sum(F.col("in_t") * F.col("in_c"))
    return joined.agg(
        F.sum("in_t").cast("bigint").alias("n_truth"),
        F.sum("in_c").cast("bigint").alias("n_cand"),
        hit.cast("bigint").alias("n_hit"),
        F.round(
            hit.cast("double") / F.nullif(F.sum("in_t"), F.lit(0)), 4
        ).alias("recall"),
        F.round(
            hit.cast("double") / F.nullif(F.sum("in_c"), F.lit(0)), 4
        ).alias("precision"),
    )


@register(
    "dedup_incremental",
    f"""
    WITH fp AS (
      SELECT doc_id, source,
             md5(array_to_string({tokens_sql('text')}, ' ')) AS fp
      FROM documents),
    corpus AS (SELECT DISTINCT fp FROM fp WHERE source <> 'src0')
    SELECT f.doc_id, f.fp,
           c.fp IS NULL AS is_new
    FROM fp f LEFT JOIN corpus c USING (fp)
    WHERE f.source = 'src0'
    """,
    "incremental crawl dedup (F8 at corpus granularity): the new batch "
    "anti-checks its normalization fingerprints against the existing "
    "corpus — one fp hash-agg + one fp-keyed join, the daily-ingest "
    "shape; the corpus side never rescans payloads",
)
def dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    from jigsaw_spark.operators.text import fingerprint_expr, tokens_expr

    docs = _t(spark, sf_dir, "documents")
    fp = docs.select(
        "doc_id", "source", fingerprint_expr(tokens_expr("text")).alias("fp")
    )
    corpus = fp.filter(F.col("source") != "src0").select("fp").distinct()
    new = fp.filter(F.col("source") == "src0")
    return new.join(
        corpus.withColumn("_hit", F.lit(1)), "fp", "left"
    ).select("doc_id", "fp", F.col("_hit").isNull().alias("is_new"))


@register(
    "dedup_minhash_jaccard_est",
    f"""
    WITH {_TOKS_CTE}, {_SHINGLES_CTE},
    sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2),
    truth AS (
      SELECT doc_a, doc_b,
             CAST(inter AS DOUBLE) / (sa.sz + sb.sz - inter) AS j
      FROM inter
      JOIN sizes sa ON doc_a = sa.doc_id
      JOIN sizes sb ON doc_b = sb.doc_id
      WHERE inter / (sa.sz + sb.sz - inter) >= 0.3),
    mh AS (
      SELECT doc_id, seed,
             min(md5(CAST(seed AS VARCHAR) || '|' || shingle)) AS mh
      FROM sh CROSS JOIN (SELECT unnest(range(16)) AS seed) seeds
      GROUP BY doc_id, seed),
    est AS (
      SELECT t.doc_a, t.doc_b,
             CAST(sum(CASE WHEN a.mh = b.mh THEN 1 ELSE 0 END) AS DOUBLE)
               / 16 AS j_est
      FROM truth t
      JOIN mh a ON a.doc_id = t.doc_a
      JOIN mh b ON b.doc_id = t.doc_b AND b.seed = a.seed
      GROUP BY 1, 2)
    SELECT t.doc_a, t.doc_b,
           round(t.j, 4) AS jaccard,
           round(e.j_est, 4) AS minhash_est,
           round(abs(round(e.j_est, 4) - round(t.j, 4)), 4) AS abs_err
    FROM truth t JOIN est e USING (doc_a, doc_b)
    """,
    "sketch-accuracy evaluation: MinHash agreement fraction (16 seeded "
    "hashes) vs exact trigram Jaccard on every pair with true J >= 0.3 "
    "— the per-pair estimator error the LSH banding math builds on. "
    "The signature comparison is anchored on the candidate pair list "
    "(|pairs| x 16 rows — a bare seed-keyed self-join would be "
    "all-pairs); the truth side is the bounded inverted-index join",
)
def dedup_minhash_jaccard_est(spark: SparkSession, sf_dir: str) -> DataFrame:
    from jigsaw_spark.operators.dedup import minhash_vector, ngram_jaccard_pairs

    docs = _t(spark, sf_dir, "documents")
    # capped truth side (see dedup_lsh_recall): never binds at sf0.01 so
    # the SQL twin stays the uncapped form; bounds the inverted-index
    # self-join on boilerplate shingles at scale
    # NOTE: deliberately NOT localCheckpoint'ed — truth feeds two
    # consumers, but Spark's ReusedExchange already shares the heavy
    # shingle-join stages between them; forcing materialization was
    # measured SLOWER (4.4s -> 6.7s in-bench at sf0.1)
    truth = ngram_jaccard_pairs(
        docs, "doc_id", threshold=0.3, max_posting=1000
    ).select("doc_a", "doc_b", (F.col("jaccard")).alias("j_exact"))
    # signature as ONE array row per doc (the map-only minhash_vector
    # kernel; mhs[s] == the relational minhash_signatures' per-seed min
    # by construction): the seed-explode form shuffled |docs| x 16 rows
    # into a (doc, seed) hash-agg and the estimate needed a 16x-row
    # double join + pair hash-agg — here each pair joins two array rows
    # and the agreement count folds inline
    vec = minhash_vector(docs, "doc_id", num_hashes=16)
    agree = F.aggregate(
        F.zip_with(
            F.col("mh_a"),
            F.col("mh_b"),
            lambda u, v: (u == v).cast("int"),
        ),
        F.lit(0),
        lambda acc, x: acc + x,
    )
    # estimate ONLY on the candidate pairs: a bare signature self-join
    # is all-pairs (measured 47s at sf0.1, quadratic at scale) —
    # anchoring on the truth pair list bounds the work to |pairs| rows
    est = (
        truth.select("doc_a", "doc_b")
        .join(
            vec.select(
                F.col("doc_id").alias("doc_a"), F.col("mhs").alias("mh_a")
            ),
            "doc_a",
        )
        .join(
            vec.select(
                F.col("doc_id").alias("doc_b"), F.col("mhs").alias("mh_b")
            ),
            "doc_b",
        )
        .select(
            "doc_a",
            "doc_b",
            (agree.cast("double") / 16).alias("j_est"),
        )
    )
    return truth.join(est, ["doc_a", "doc_b"]).select(
        "doc_a",
        "doc_b",
        F.round(F.col("j_exact"), 4).alias("jaccard"),
        F.round("j_est", 4).alias("minhash_est"),
        F.round(
            F.abs(F.round("j_est", 4) - F.round("j_exact", 4)), 4
        ).alias("abs_err"),
    )


_W = 8  # substring window length (tokens)


@register(
    "dedup_substr_windows",
    f"""
    WITH toks AS (
      SELECT doc_id, {tokens_sql('text')} AS ws FROM documents
    ),
    wins AS (
      SELECT DISTINCT doc_id, array_to_string(ws[i+1:i+{_W}], ' ') AS w
      FROM toks, LATERAL (
        SELECT unnest(range(0, len(ws) - {_W} + 1)) AS i) t
      WHERE len(ws) >= {_W}
    ),
    dup AS (
      SELECT w, 1 AS is_dup FROM wins GROUP BY w HAVING count(*) >= 2
    )
    SELECT doc_id,
           count(*) AS n_windows,
           CAST(sum(coalesce(is_dup, 0)) AS BIGINT) AS n_dup_windows,
           round(sum(coalesce(is_dup, 0)) / CAST(count(*) AS DOUBLE), 4)
             AS dup_ratio
    FROM wins LEFT JOIN dup USING (w)
    GROUP BY doc_id
    """,
    "ExactSubstr-style window dedup stats (Lee et al. 2022 analog): one "
    "sliding-window explode -> distinct (doc, md5-fingerprint) -> ONE "
    "fp-keyed hash agg -> fp join back (exchange reuse) -> doc agg; "
    "windows shuffle as fingerprints, dup set never collected; outputs "
    "are integer counts + integer-ratio doubles (engine-stable)",
)
def dedup_substr_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    from jigsaw_spark.operators.dedup import substring_window_stats

    docs = _t(spark, sf_dir, "documents")
    return substring_window_stats(docs, "doc_id", "text", window=_W)


@register(
    "dedup_containment",
    f"""
    WITH {_BANDED_PAIR_CTES}
    SELECT doc_a, doc_b,
           round(inter / CAST(least(sa.sz, sb.sz) AS DOUBLE), 4) AS overlap
    FROM inter
    JOIN sizes sa ON doc_a = sa.doc_id
    JOIN sizes sb ON doc_b = sb.doc_id
    WHERE inter / CAST(least(sa.sz, sb.sz) AS DOUBLE) >= 0.8
    """,
    "overlap-coefficient near-dup pairs |A∩B|/min(|A|,|B|): the "
    "asymmetric containment Jaccard misses (excerpt inside a long doc). "
    "C4-ordered (r6 scale-safe default): exact-dedup keepers -> "
    "MinHash-LSH candidates -> exact intersection ONLY per candidate "
    "pair — the capped-posting self-join (cap²/2 pairs per hot shingle, "
    "9.9x at the x10 probe) never runs; score = ratio of exact integers",
)
def dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    from jigsaw_spark.operators.dedup import banded_pair_scores

    docs = _t(spark, sf_dir, "documents")
    return banded_pair_scores(
        docs, "doc_id", threshold=0.8, measure="containment"
    )


@register(
    "dedup_impact_ledger",
    None,  # filled below: reuses fingerprint_sql adjacent to the operator
    "before/after dedup ledger per source (the dataset-card number a "
    "curation run reports): exact-dedup keeper assignment -> per-source "
    "kept/dropped doc and char counts + retention — ONE fp window + ONE "
    "source-keyed agg, all outputs exact integers or integer ratios",
)
def dedup_impact_ledger(spark: SparkSession, sf_dir: str) -> DataFrame:
    from jigsaw_spark.operators.dedup import exact_dedup

    docs = _t(spark, sf_dir, "documents")
    d = exact_dedup(docs, "doc_id")
    kept = (~F.col("is_dup")).cast("long")
    return (
        d.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(kept).alias("n_kept"),
            F.sum(kept * F.col("n_chars")).alias("chars_kept"),
            F.round(
                F.sum(kept) / F.count(F.lit(1)).cast("double"), 4
            ).alias("retention"),
        )
        .orderBy("source")
    )


def _install_dedup_impact_oracle() -> None:
    from jigsaw_spark.operators.text import fingerprint_sql

    QUERIES["dedup_impact_ledger"].oracle = f"""
    WITH {_TOKS_CTE},
    fp AS (
      SELECT d.doc_id, d.source, d.n_chars, {fingerprint_sql('t')} AS fp
      FROM toks JOIN documents d USING (doc_id)),
    marked AS (
      SELECT source, n_chars,
             CASE WHEN doc_id = min(doc_id) OVER (PARTITION BY fp)
                  THEN 1 ELSE 0 END AS kept
      FROM fp)
    SELECT source,
           count(*) AS n_docs,
           CAST(sum(kept) AS BIGINT) AS n_kept,
           CAST(sum(kept * n_chars) AS BIGINT) AS chars_kept,
           round(sum(kept) / CAST(count(*) AS DOUBLE), 4) AS retention
    FROM marked GROUP BY source ORDER BY source
    """


_install_dedup_impact_oracle()


# ---------------------------------------------------------------------------
# curation_soft_dedup_weights / graph_component_size_hist — both consume
# the C4-ordered keeper mapping (operators/dedup.near_dup_keepers)
# ---------------------------------------------------------------------------


def _keeper_cluster_sql() -> str:
    """Shared oracle CTE chain: doc → near-dup cluster keeper → cluster
    sizes. The oracle builds the SimHash graph over ALL docs (the
    semantic spec); Spark runs the exact-dedup-first composition, which
    is result-identical (see near_dup_keepers)."""

    return f"""
    WITH RECURSIVE {_SIMHASH_CTE},
    prs AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM sig a JOIN sig b ON a.doc_id < b.doc_id
      WHERE bit_count(xor(a.simhash, b.simhash)) <= 2),
    edges AS (
      SELECT doc_a AS u, doc_b AS v FROM prs
      UNION
      SELECT doc_b AS u, doc_a AS v FROM prs),
    reach(u, v) AS (
      SELECT u, v FROM edges
      UNION
      SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u
      WHERE e.v <> r.u),
    comp AS MATERIALIZED (
      SELECT u AS doc_id, least(u, min(v)) AS keeper
      FROM reach GROUP BY u),
    assigned AS MATERIALIZED (
      SELECT d.doc_id, coalesce(c.keeper, d.doc_id) AS keeper
      FROM documents d LEFT JOIN comp c ON d.doc_id = c.doc_id),
    clusters AS MATERIALIZED (
      SELECT keeper, count(*) AS cluster_size
      FROM assigned GROUP BY keeper)
"""


# ---------------------------------------------------------------------------
# dedup_source_overlap
# ---------------------------------------------------------------------------


def _source_overlap_sql() -> str:
    from jigsaw_spark.operators.text import tokens_sql

    return f"""
    WITH toks AS (
      SELECT source, {tokens_sql('text')} AS t FROM documents),
    ssh AS MATERIALIZED (
      SELECT DISTINCT source,
             unnest(list_transform(range(1, len(t) - 1),
                    i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS shingle
      FROM toks WHERE len(t) >= 3),
    sizes AS (SELECT source, count(*) AS sz FROM ssh GROUP BY source),
    inter AS (
      SELECT a.source AS src_a, b.source AS src_b, count(*) AS inter
      FROM ssh a JOIN ssh b
        ON a.shingle = b.shingle AND a.source < b.source
      GROUP BY 1, 2)
    SELECT src_a, src_b,
           CAST(sa.sz AS BIGINT) AS sz_a,
           CAST(sb.sz AS BIGINT) AS sz_b,
           CAST(i.inter AS BIGINT) AS n_shared,
           CAST(i.inter * 1000000 // (sa.sz + sb.sz - i.inter) AS BIGINT)
             AS jaccard_micro
    FROM inter i
    JOIN sizes sa ON i.src_a = sa.source
    JOIN sizes sb ON i.src_b = sb.source
"""


@register(
    "dedup_source_overlap",
    _source_overlap_sql(),
    "source-level trigram Jaccard matrix: which SOURCES mirror each "
    "other — the crawl-planning view that decides which feeds to drop "
    "wholesale before any doc-level dedup runs. The pair space is "
    "|sources|² (a handful), NOT |docs|²: shingles aggregate to the "
    "(source, shingle) distinct relation first, so each shingle's "
    "posting list is bounded by the source count. Integer micro "
    "Jaccard of exact counts",
)
def dedup_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    from jigsaw_spark.operators.text import shingles_expr, tokens_expr

    # spread before the explode (single-file read = one partition)
    docs = _t(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism
    )
    # bucket form (r14, guide §2.3/§2.4): ONE (shingle) hash-agg with a
    # per-shingle source SET replaces the old distinct shuffle +
    # checkpoint + two join-side shuffles of the full (source, shingle)
    # relation — collect_set dedups (source, shingle) exactly like the
    # old .distinct(), pair enumeration is bucket-local over the
    # bounded |sources| set, and sizes explode the same buckets
    ssh = docs.select(
        "source",
        F.explode(shingles_expr(tokens_expr("text"))).alias("shingle"),
    )
    buckets = ssh.groupBy("shingle").agg(
        F.array_sort(F.collect_set("source")).alias("ss")
    )
    sizes = (
        buckets.select(F.explode("ss").alias("source"))
        .groupBy("source")
        .agg(F.count(F.lit(1)).alias("sz"))
    )
    combos = F.flatten(
        F.transform(
            F.col("ss"),
            lambda x, i: F.transform(
                F.slice(F.col("ss"), i + F.lit(2), F.size(F.col("ss"))),
                lambda y: F.struct(
                    x.alias("src_a"), y.alias("src_b")
                ),
            ),
        )
    )
    inter = (
        buckets.filter(F.size("ss") >= 2)
        .select(F.explode(combos).alias("p"))
        .select(F.col("p.src_a").alias("src_a"), F.col("p.src_b").alias("src_b"))
        .groupBy("src_a", "src_b")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    sz_a = sizes.select(F.col("source").alias("src_a"), F.col("sz").alias("sza"))
    sz_b = sizes.select(F.col("source").alias("src_b"), F.col("sz").alias("szb"))
    return (
        inter.join(F.broadcast(sz_a), "src_a")
        .join(F.broadcast(sz_b), "src_b")
        .select(
            "src_a",
            "src_b",
            F.col("sza").cast("bigint").alias("sz_a"),
            F.col("szb").cast("bigint").alias("sz_b"),
            F.col("inter").cast("bigint").alias("n_shared"),
            F.expr(
                "CAST(inter * 1000000 div (sza + szb - inter) AS BIGINT)"
            ).alias("jaccard_micro"),
        )
    )


# ---------------------------------------------------------------------------
# dedup_cluster_purity
# ---------------------------------------------------------------------------


def _cluster_purity_sql() -> str:
    return (
        _keeper_cluster_sql()
        + """,
    cl AS (
      SELECT a.keeper, d.lang, CAST(count(*) AS BIGINT) AS c
      FROM assigned a JOIN documents d ON a.doc_id = d.doc_id
      GROUP BY 1, 2),
    per_cluster AS (
      SELECT keeper,
             CAST(sum(c) AS BIGINT) AS size,
             CAST(count(*) AS BIGINT) AS n_langs,
             CAST(max(c) AS BIGINT) AS majority
      FROM cl GROUP BY 1)
    SELECT CAST(length(bin(size)) - 1 AS INT) AS bucket,
           CAST(count(*) AS BIGINT) AS n_clusters,
           CAST(sum(size) AS BIGINT) AS n_docs,
           CAST(sum(CASE WHEN n_langs > 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_mixed_clusters,
           CAST(sum(majority) AS BIGINT) AS majority_docs,
           CAST(sum(majority) * 1000 // sum(size) AS BIGINT)
             AS purity_milli
    FROM per_cluster GROUP BY 1
"""
    )


@register(
    "dedup_cluster_purity",
    _cluster_purity_sql(),
    "language purity of near-dup clusters rolled up by log2 "
    "cluster-size bucket: clusters, docs, MIXED-language clusters, and "
    "the majority-language mass share per bucket — the inside-view "
    "companion of graph_component_size_hist (sizes say how much mass "
    "clusters hold; purity says what it is: a near-dup cluster "
    "spanning languages is almost always boilerplate/template chrome, "
    "not translated content, so low purity in the big buckets means "
    "hub removal beats representative selection for those clusters). "
    "EXACT: integer counts; purity floor-divides per bucket; the "
    "bucket is length(bin(size))-1 (no libm). Shape: the "
    "duplication-proof keeper mapping (C4-ordered) feeds ONE "
    "(keeper, lang) hash-agg and a per-cluster rollup; the final "
    "report groups into <= 64 buckets",
)
def dedup_cluster_purity(spark: SparkSession, sf_dir: str) -> DataFrame:
    from jigsaw_spark.operators.dedup import near_dup_keepers

    docs = _t(spark, sf_dir, "documents")
    assigned = near_dup_keepers(docs, "doc_id")
    cl = (
        assigned.join(
            docs.select("doc_id", "lang"), "doc_id"
        )
        .groupBy("keeper", "lang")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    )
    per_cluster = cl.groupBy("keeper").agg(
        F.sum("c").cast("bigint").alias("size"),
        F.count(F.lit(1)).cast("bigint").alias("n_langs"),
        F.max("c").cast("bigint").alias("majority"),
    )
    return (
        per_cluster.groupBy(
            (F.length(F.bin("size")) - 1).cast("int").alias("bucket")
        )
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_clusters"),
            F.sum("size").cast("bigint").alias("n_docs"),
            F.sum(F.when(F.col("n_langs") > 1, 1).otherwise(0))
            .cast("bigint")
            .alias("n_mixed_clusters"),
            F.sum("majority").cast("bigint").alias("majority_docs"),
            F.expr(
                "CAST(sum(majority) * 1000 div sum(size) AS BIGINT)"
            ).alias("purity_milli"),
        )
    )


# ---------------------------------------------------------------------------
# dedup_shingle_sweep
# ---------------------------------------------------------------------------


def _shingle_sweep_sql() -> str:
    from jigsaw_spark.operators.text import shingles_sql, tokens_sql

    parts = []
    for n in (3, 5, 8):
        parts.append(f"""
    df{n} AS (
      SELECT sh, CAST(count(*) AS BIGINT) AS df FROM (
        SELECT DISTINCT doc_id, sh FROM (
          SELECT doc_id, unnest({shingles_sql('t', n)}) AS sh
          FROM toks))
      GROUP BY 1),
    s{n} AS (
      SELECT CAST({n} AS INT) AS n,
             CAST(count(*) AS BIGINT) AS n_shingles,
             CAST(sum(df) AS BIGINT) AS n_postings,
             CAST(max(df) AS BIGINT) AS max_df,
             CAST(sum(df * (df - 1) // 2) AS BIGINT) AS candidate_pairs
      FROM df{n})""")
    return f"""
    WITH toks AS (
      SELECT doc_id, {tokens_sql('text')} AS t FROM documents),
    nd AS MATERIALIZED (
      SELECT CAST(count(*) AS BIGINT) AS n FROM documents),{','.join(parts)}
    SELECT u.n, u.n_shingles, u.n_postings, u.max_df, u.candidate_pairs,
           CAST(u.candidate_pairs * 1000 // (SELECT n FROM nd) AS BIGINT)
             AS pairs_per_doc_milli
    FROM (SELECT * FROM s3 UNION ALL SELECT * FROM s5
          UNION ALL SELECT * FROM s8) u
"""


@register(
    "dedup_shingle_sweep",
    _shingle_sweep_sql(),
    "shingle-size cost model for posting-join dedup: for n in "
    "{3, 5, 8}, the distinct shingle count, posting volume, max "
    "document frequency, implied candidate-pair volume "
    "sum df*(df-1)/2, and pairs-per-doc — WITHOUT enumerating a "
    "single pair: the quadratic space is PRICED, not materialized "
    "(small n = few distinct grams with huge df buckets — quadratic "
    "blow-up; large n = near-unique grams — cheap but blind to "
    "edits). This is the number that picks n before launching "
    "dedup_ngram_jaccard / the LSH pipelines, and the df cap those "
    "operators apply is exactly a cut on this table's max_df tail. "
    "Shape: one tokenize scan feeding three per-n "
    "explode -> distinct -> df hash-aggs; output is 3 rows; no "
    "joins, no windows",
)
def dedup_shingle_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    from jigsaw_spark.operators.dedup import doc_shingles
    from jigsaw_spark.session import widen

    docs = widen(_t(spark, sf_dir, "documents")).select("doc_id", "text")
    nd = docs.agg(F.count(F.lit(1)).cast("bigint").alias("nd"))
    outs = []
    for n in (3, 5, 8):
        df_n = (
            doc_shingles(docs, "doc_id", n=n)
            .groupBy("shingle")
            .agg(F.count(F.lit(1)).cast("bigint").alias("df"))
        )
        outs.append(
            df_n.agg(
                F.lit(n).cast("int").alias("n"),
                F.count(F.lit(1)).cast("bigint").alias("n_shingles"),
                F.sum("df").cast("bigint").alias("n_postings"),
                F.max("df").cast("bigint").alias("max_df"),
                F.sum(F.expr("df * (df - 1) div 2"))
                .cast("bigint")
                .alias("candidate_pairs"),
            )
        )
    u = outs[0].unionAll(outs[1]).unionAll(outs[2])
    return u.crossJoin(F.broadcast(nd)).select(
        "n",
        "n_shingles",
        "n_postings",
        "max_df",
        "candidate_pairs",
        F.expr(
            "CAST(candidate_pairs * 1000 div nd AS BIGINT)"
        ).alias("pairs_per_doc_milli"),
    )


# dedup_band_sweep -----------------------------------------------------------

_BAND_CFGS = ((2, 8), (4, 4), (8, 2))  # (bands, rows_per_band), b*r = 16


def _band_sweep_sql() -> str:
    arms = []
    for b, r in _BAND_CFGS:
        thr = round(1000 * (1.0 / b) ** (1.0 / r))
        arms.append(f"""
    bands_{b} AS (
      SELECT doc_id, seed // {r} AS band,
             string_agg(mh, ',' ORDER BY seed) AS sig
      FROM mh GROUP BY doc_id, band),
    pairs_{b} AS (
      SELECT DISTINCT a.doc_id AS doc_a, b2.doc_id AS doc_b
      FROM bands_{b} a
      JOIN bands_{b} b2 ON a.band = b2.band AND a.sig = b2.sig
                        AND a.doc_id < b2.doc_id),
    row_{b} AS (
      SELECT {b} AS bands, {r} AS rows_per_band,
             CAST({thr} AS BIGINT) AS threshold_milli,
             (SELECT CAST(count(*) AS BIGINT) FROM pairs_{b})
               AS n_candidate_pairs)""")
    unions = "\n      UNION ALL\n      ".join(
        f"SELECT * FROM row_{b}" for b, _ in _BAND_CFGS
    )
    return f"""
    WITH {_TOKS_CTE}, {_SHINGLES_CTE},
    mh AS MATERIALIZED (
      SELECT doc_id, seed,
             min(md5(CAST(seed AS VARCHAR) || '|' || shingle)) AS mh
      FROM sh CROSS JOIN (SELECT unnest(range(16)) AS seed) seeds
      GROUP BY doc_id, seed),
    {','.join(arms)}
    SELECT CAST(bands AS INT) AS bands,
           CAST(rows_per_band AS INT) AS rows_per_band,
           threshold_milli, n_candidate_pairs
    FROM ({unions})
"""


@register(
    "dedup_band_sweep",
    _band_sweep_sql(),
    "LSH band-configuration economics: over the SAME 16 md5-seeded "
    "minhashes (dedup_minhash_lsh's signatures — the 4x4 row "
    "reproduces its certified pair count), candidate pair counts for "
    "(bands, rows) in {{2x8, 4x4, 8x2}} next to each config's "
    "S-curve threshold s* = (1/b)^(1/r) (inlined as an exact literal, "
    "computed once at plan build): 8x2 fires at ~354 milli Jaccard "
    "(recall-heavy, most candidates), 2x8 at ~917 (precision-heavy, "
    "fewest) — the tuning table that prices recall against candidate "
    "volume BEFORE any exact verification runs. dedup_shingle_sweep "
    "sweeps the shingle axis; this sweeps the banding axis. Shape: "
    "ONE signature hash-agg shared by three banded bucket joins — "
    "never all-pairs",
)
def dedup_band_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    from jigsaw_spark.operators.dedup import minhash_lsh_pairs

    docs = _t(spark, sf_dir, "documents").localCheckpoint()
    arms = []
    for b, r in _BAND_CFGS:
        thr = round(1000 * (1.0 / b) ** (1.0 / r))
        n = minhash_lsh_pairs(
            docs, "doc_id", num_hashes=16, bands=b
        ).agg(
            F.count(F.lit(1)).cast("bigint").alias("n_candidate_pairs")
        )
        arms.append(
            n.select(
                F.lit(b).cast("int").alias("bands"),
                F.lit(r).cast("int").alias("rows_per_band"),
                F.lit(thr).cast("bigint").alias("threshold_milli"),
                "n_candidate_pairs",
            )
        )
    out = arms[0]
    for a in arms[1:]:
        out = out.unionByName(a)
    return out


# dedup_prefix_clusters ------------------------------------------------------


def _prefix_clusters_sql() -> str:
    from jigsaw_spark.operators.text import tokens_sql

    return f"""
    WITH toks AS (
      SELECT doc_id, {tokens_sql('text')} AS t FROM documents),
    keyed AS (
      SELECT doc_id, md5(array_to_string(t[1:8], ' ')) AS pfx
      FROM toks WHERE len(t) >= 8),
    sizes AS (
      SELECT pfx, CAST(count(*) AS BIGINT) AS size
      FROM keyed GROUP BY 1)
    SELECT CAST(size AS BIGINT) AS cluster_size,
           CAST(count(*) AS BIGINT) AS n_clusters,
           CAST(size * count(*) AS BIGINT) AS n_docs
    FROM sizes GROUP BY size
"""


@register(
    "dedup_prefix_clusters",
    _prefix_clusters_sql(),
    "template detection by shared opening: docs grouped by the md5 of "
    "their FIRST 8 tokens (boilerplate headers, form letters, scraped "
    "templates share openings long before they share full "
    "fingerprints), reported as a (cluster_size, n_clusters, n_docs) "
    "histogram with singletons included. dedup_lines removes repeated "
    "LINES anywhere, dedup_exact needs the WHOLE text equal; the "
    "prefix key catches the template family in ONE hash-agg with no "
    "banding at all — the cheapest first pass of the dedup ladder. "
    "Docs under 8 tokens have no prefix key and are excluded "
    "(documented; they cannot be templates). Shape: map-only key "
    "projection -> one key hash-agg -> one size histogram agg",
)
def dedup_prefix_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    from jigsaw_spark.operators.text import tokens_expr

    docs = _t(spark, sf_dir, "documents")
    toks = docs.select("doc_id", tokens_expr("text").alias("t"))
    keyed = toks.filter(F.size("t") >= 8).select(
        F.md5(F.concat_ws(" ", F.slice(F.col("t"), 1, 8))).alias("pfx")
    )
    sizes = keyed.groupBy("pfx").agg(
        F.count(F.lit(1)).cast("bigint").alias("size")
    )
    return sizes.groupBy("size").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_clusters")
    ).select(
        F.col("size").cast("bigint").alias("cluster_size"),
        "n_clusters",
        (F.col("size") * F.col("n_clusters"))
        .cast("bigint")
        .alias("n_docs"),
    )


# dedup_edge_source_mix ------------------------------------------------------


def _edge_source_mix_sql() -> str:
    return f"""
    WITH {_KEEPER_EDGES_CTE},
    lab AS (SELECT doc_id, source FROM documents),
    el AS (
      SELECT la.source AS src_u, lb.source AS src_v
      FROM edges e
      JOIN lab la ON la.doc_id = e.u
      JOIN lab lb ON lb.doc_id = e.v)
    SELECT src_u AS source,
           CAST(count(*) AS BIGINT) AS n_edges_directed,
           CAST(sum(CASE WHEN src_u = src_v THEN 1 ELSE 0 END)
             AS BIGINT) AS n_within,
           CAST(sum(CASE WHEN src_u = src_v THEN 0 ELSE 1 END)
             AS BIGINT) AS n_cross,
           CAST(sum(CASE WHEN src_u = src_v THEN 1 ELSE 0 END) * 1000
             // count(*) AS BIGINT) AS within_milli
    FROM el GROUP BY 1
"""


@register(
    "dedup_edge_source_mix",
    _edge_source_mix_sql(),
    "near-dup edge provenance per source: of the keeper-graph edges "
    "touching each source, how many stay WITHIN it vs reach across "
    "(directed counts, so every source sees all its edges). "
    "dedup_source_overlap compares sources by SHINGLE sets (could "
    "they mirror each other); this counts the near-dup edges that "
    "actually formed — a source with high cross share duplicates "
    "OTHER feeds and is the drop candidate; graph_lang_assortativity "
    "is the one-number lang twin of this per-source source view. "
    "Shape: keeper edge list joined twice to the doc->source "
    "projection, one |sources| hash-agg",
)
def dedup_edge_source_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    from jigsaw_spark.operators.dedup import keeper_edges

    docs = _t(spark, sf_dir, "documents")
    lab = docs.select("doc_id", "source")
    edges = keeper_edges(docs, "doc_id").localCheckpoint()
    el = (
        edges.join(
            lab.select(
                F.col("doc_id").alias("u"),
                F.col("source").alias("src_u"),
            ),
            "u",
        )
        .join(
            lab.select(
                F.col("doc_id").alias("v"),
                F.col("source").alias("src_v"),
            ),
            "v",
        )
        .select("src_u", "src_v")
    )
    return el.groupBy(F.col("src_u").alias("source")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_edges_directed"),
        F.sum(F.when(F.col("src_u") == F.col("src_v"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_within"),
        F.sum(F.when(F.col("src_u") == F.col("src_v"), 0).otherwise(1))
        .cast("bigint")
        .alias("n_cross"),
        F.expr(
            "CAST(sum(CASE WHEN src_u = src_v THEN 1 ELSE 0 END)"
            " * 1000 div count(1) AS BIGINT)"
        ).alias("within_milli"),
    )


# ---------------------------------------------------------------------------
# dedup_cross_modal
# ---------------------------------------------------------------------------


def _cross_modal_sql() -> str:
    return f"""
    WITH {_KEEPER_EDGES_CTE},
    {_PHASH_BYTES_CTE.strip().rstrip()},
    tdocs AS (
      SELECT DISTINCT doc_id FROM (
        SELECT doc_a AS doc_id FROM prs
        UNION ALL SELECT doc_b AS doc_id FROM prs)),
    mcand AS (
      SELECT DISTINCT x.i AS ia, y.i AS ib
      FROM ph_bytes x
      JOIN ph_bytes y ON x.byte_idx = y.byte_idx
                     AND x.byte_val = y.byte_val AND x.i < y.i),
    mham AS (
      SELECT c.ia, c.ib,
             CAST(sum(bit_count(xor(x.byte_val, y.byte_val))) AS BIGINT)
               AS hamming
      FROM mcand c
      JOIN ph_bytes x ON x.i = c.ia
      JOIN ph_bytes y ON y.i = c.ib AND y.byte_idx = x.byte_idx
      GROUP BY 1, 2),
    idocs AS (
      SELECT DISTINCT doc_id FROM (
        SELECT ia AS doc_id FROM mham WHERE hamming <= 6
        UNION ALL SELECT ib AS doc_id FROM mham WHERE hamming <= 6)),
    universe AS (SELECT DISTINCT i AS doc_id FROM ph_bytes),
    flags AS (
      SELECT u.doc_id,
             CASE WHEN t.doc_id IS NULL THEN 0 ELSE 1 END AS text_dup,
             CASE WHEN m.doc_id IS NULL THEN 0 ELSE 1 END AS image_dup
      FROM universe u
      LEFT JOIN tdocs t ON u.doc_id = t.doc_id
      LEFT JOIN idocs m ON u.doc_id = m.doc_id),
    tot AS (SELECT CAST(count(*) AS BIGINT) AS n_images FROM universe),
    cells AS (
      SELECT text_dup, image_dup, CAST(count(*) AS BIGINT) AS n_docs
      FROM flags GROUP BY 1, 2),
    grid AS (
      SELECT a.text_dup, b.image_dup
      FROM (SELECT unnest([0, 1]) AS text_dup) a
      CROSS JOIN (SELECT unnest([0, 1]) AS image_dup) b)
    SELECT CAST(g.text_dup AS INT) AS text_dup,
           CAST(g.image_dup AS INT) AS image_dup,
           CAST(coalesce(c.n_docs, 0) AS BIGINT) AS n_docs,
           CAST(CASE WHEN t.n_images = 0 THEN 0
             ELSE coalesce(c.n_docs, 0) * 1000 // t.n_images
             END AS BIGINT) AS share_milli
    FROM grid g
    LEFT JOIN cells c
      ON g.text_dup = c.text_dup AND g.image_dup = c.image_dup
    CROSS JOIN tot t
"""


@register(
    "dedup_cross_modal",
    _cross_modal_sql(),
    "cross-modal dedup corroboration (verdict r11 #4): over the "
    "image-bearing documents, the 2x2 table of text near-dup evidence "
    "(keeper-graph pair membership — the shared SimHash-banded keeper "
    "machinery) x image near-dup evidence (banded dHash pair "
    "membership at Hamming <= 6). The (1,1) cell is the corroborated "
    "set a dedup pipeline can act on with confidence; the off-diagonal "
    "cells are single-modality evidence that needs the other arm "
    "checked before deletion. Shape: two membership semi-joins against "
    "already-banded pair lists, a 4-row zero-filled grid — composes "
    "certified machinery, enumerates nothing new",
)
def dedup_cross_modal(spark: SparkSession, sf_dir: str) -> DataFrame:
    from jigsaw_spark.operators.dedup import keeper_pairs

    docs = _t(spark, sf_dir, "documents")
    tp = keeper_pairs(docs, "doc_id").localCheckpoint()
    tdocs = (
        tp.select(F.col("doc_a").alias("doc_id"))
        .union(tp.select(F.col("doc_b").alias("doc_id")))
        .distinct()
        .withColumn("t", F.lit(1))
    )
    ip = mm_phash_near_dup(spark, sf_dir).localCheckpoint()
    idocs = (
        ip.select(F.col("img_a").cast("bigint").alias("doc_id"))
        .union(ip.select(F.col("img_b").cast("bigint").alias("doc_id")))
        .distinct()
        .withColumn("m", F.lit(1))
    )
    # the id universe IS the synth filter (one image per doc_id % 10 == 0
    # row, image_id = str(doc_id); phash_dhash never drops a row) — no
    # second synth→encode→decode→dHash pass just to enumerate ids
    universe = docs.filter(F.col("doc_id") % 10 == 0).select(
        F.col("doc_id").alias("doc_id")
    )
    flags = (
        universe.join(tdocs, "doc_id", "left")
        .join(idocs, "doc_id", "left")
        .select(
            F.coalesce("t", F.lit(0)).alias("text_dup"),
            F.coalesce("m", F.lit(0)).alias("image_dup"),
        )
    )
    tot = flags.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_images")
    )
    cells = flags.groupBy("text_dup", "image_dup").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs")
    )
    two = spark.range(0, 2).select(F.col("id").cast("int"))
    grid = two.select(F.col("id").alias("text_dup")).crossJoin(
        two.select(F.col("id").alias("image_dup"))
    )
    return (
        grid.join(cells, ["text_dup", "image_dup"], "left")
        .crossJoin(F.broadcast(tot))
        .select(
            F.col("text_dup").cast("int").alias("text_dup"),
            F.col("image_dup").cast("int").alias("image_dup"),
            F.coalesce("n_docs", F.lit(0))
            .cast("bigint")
            .alias("n_docs"),
            F.expr(
                "CAST(CASE WHEN n_images = 0 THEN 0"
                " ELSE coalesce(n_docs, 0) * 1000 div n_images"
                " END AS BIGINT)"
            ).alias("share_milli"),
        )
    )


# ---------------------------------------------------------------------------
# dedup_pooled_components
# ---------------------------------------------------------------------------


def _pooled_components_sql() -> str:
    return f"""
    WITH RECURSIVE {_KEEPER_EDGES_CTE},
    {_PHASH_BYTES_CTE.strip()},
    mcand AS (
      SELECT DISTINCT x.i AS ia, y.i AS ib
      FROM ph_bytes x
      JOIN ph_bytes y ON x.byte_idx = y.byte_idx
                     AND x.byte_val = y.byte_val AND x.i < y.i),
    mpairs AS MATERIALIZED (
      SELECT ia AS doc_a, ib AS doc_b FROM (
        SELECT c.ia, c.ib,
               CAST(sum(bit_count(xor(x.byte_val, y.byte_val)))
                 AS BIGINT) AS hamming
        FROM mcand c
        JOIN ph_bytes x ON x.i = c.ia
        JOIN ph_bytes y ON y.i = c.ib AND y.byte_idx = x.byte_idx
        GROUP BY 1, 2) h
      WHERE h.hamming <= 6),
    tedges AS (SELECT u, v FROM edges),
    iedges AS MATERIALIZED (
      SELECT doc_a AS u, doc_b AS v FROM mpairs
      UNION SELECT doc_b AS u, doc_a AS v FROM mpairs),
    uedges AS MATERIALIZED (
      SELECT u, v FROM tedges UNION SELECT u, v FROM iedges),
    reach_t(u, v) AS (
      SELECT u, v FROM tedges
      UNION
      SELECT r.u, e.v FROM reach_t r JOIN tedges e ON r.v = e.u
      WHERE e.v <> r.u),
    reach_i(u, v) AS (
      SELECT u, v FROM iedges
      UNION
      SELECT r.u, e.v FROM reach_i r JOIN iedges e ON r.v = e.u
      WHERE e.v <> r.u),
    reach_u(u, v) AS (
      SELECT u, v FROM uedges
      UNION
      SELECT r.u, e.v FROM reach_u r JOIN uedges e ON r.v = e.u
      WHERE e.v <> r.u),
    sizes AS (
      SELECT 'text' AS arm, least(u, min(v)) AS component,
             CAST(1 AS BIGINT) AS one
      FROM reach_t GROUP BY u
      UNION ALL
      SELECT 'image' AS arm, least(u, min(v)), CAST(1 AS BIGINT)
      FROM reach_i GROUP BY u
      UNION ALL
      SELECT 'pooled' AS arm, least(u, min(v)), CAST(1 AS BIGINT)
      FROM reach_u GROUP BY u),
    comp AS (
      SELECT arm, component, CAST(count(*) AS BIGINT) AS sz
      FROM sizes GROUP BY 1, 2)
    SELECT arm,
           CAST(sum(sz) AS BIGINT) AS n_nodes,
           CAST(count(*) AS BIGINT) AS n_components,
           CAST(max(sz) AS BIGINT) AS max_size
    FROM comp GROUP BY arm
"""


@register(
    "dedup_pooled_components",
    _pooled_components_sql(),
    "evidence pooling across modalities: connected components over "
    "text keeper pairs, over banded dHash image pairs, and over their "
    "UNION — same accounting (nodes, components, giant size) per arm. "
    "dedup_cross_modal INTERSECTS evidence per doc (corroboration); "
    "this MERGES it per cluster: a pooled component count below "
    "text+image means the modalities connect different doc groups "
    "and pooling fuses clusters neither finds alone — the recall "
    "argument for multi-modal dedup, priced exactly. Shape: two "
    "certified banded pair lists unioned, the size-adaptive "
    "connected-components operator per arm, three size rollups — "
    "never an unbanded pair enumeration",
)
def dedup_pooled_components(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from jigsaw_spark.operators.dedup import (
        connected_components,
        keeper_pairs,
    )

    docs = _t(spark, sf_dir, "documents")
    tpairs = keeper_pairs(docs, "doc_id").localCheckpoint()
    ipairs = (
        mm_phash_near_dup(spark, sf_dir)
        .select(
            F.col("img_a").cast("bigint").alias("doc_a"),
            F.col("img_b").cast("bigint").alias("doc_b"),
        )
        .localCheckpoint()
    )
    upairs = tpairs.select("doc_a", "doc_b").unionByName(
        ipairs
    ).distinct()

    def _arm(pairs: DataFrame, arm: str) -> DataFrame:
        comp = connected_components(pairs)
        return (
            comp.groupBy("component")
            .agg(F.count(F.lit(1)).cast("bigint").alias("sz"))
            .agg(
                F.sum("sz").cast("bigint").alias("n_nodes"),
                F.count(F.lit(1)).cast("bigint").alias("n_components"),
                F.max("sz").cast("bigint").alias("max_size"),
            )
            .select(F.lit(arm).alias("arm"), "*")
        )

    return (
        _arm(tpairs, "text")
        .unionByName(_arm(ipairs, "image"))
        .unionByName(_arm(upairs, "pooled"))
    )


# ---------------------------------------------------------------------------
# dedup_detector_agreement
# ---------------------------------------------------------------------------


def _detector_agreement_sql() -> str:
    return f"""
    WITH {_SIMHASH_CTE},
    {_SHINGLES_CTE},
    mh AS (
      SELECT doc_id, seed,
             min(md5(CAST(seed AS VARCHAR) || '|' || shingle)) AS mh
      FROM sh CROSS JOIN (SELECT unnest(range(16)) AS seed) seeds
      GROUP BY doc_id, seed),
    bands AS (
      SELECT doc_id, seed // 4 AS band,
             string_agg(mh, ',' ORDER BY seed) AS sig
      FROM mh GROUP BY doc_id, band),
    mhp AS MATERIALIZED (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM bands a
      JOIN bands b ON a.band = b.band AND a.sig = b.sig
                  AND a.doc_id < b.doc_id),
    shp AS MATERIALIZED (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM sig a JOIN sig b ON a.doc_id < b.doc_id
      WHERE bit_count(xor(a.simhash, b.simhash)) <= 2),
    u AS (
      SELECT coalesce(m.doc_a, s.doc_a) AS doc_a,
             coalesce(m.doc_b, s.doc_b) AS doc_b,
             m.doc_a IS NOT NULL AS in_mh,
             s.doc_a IS NOT NULL AS in_sh
      FROM mhp m
      FULL OUTER JOIN shp s
        ON m.doc_a = s.doc_a AND m.doc_b = s.doc_b)
    SELECT CAST(sum(CASE WHEN in_mh THEN 1 ELSE 0 END) AS BIGINT)
             AS n_minhash,
           CAST(sum(CASE WHEN in_sh THEN 1 ELSE 0 END) AS BIGINT)
             AS n_simhash,
           CAST(sum(CASE WHEN in_mh AND in_sh THEN 1 ELSE 0 END)
             AS BIGINT) AS n_both,
           CAST(sum(CASE WHEN in_mh AND NOT in_sh THEN 1 ELSE 0 END)
             AS BIGINT) AS n_only_minhash,
           CAST(sum(CASE WHEN in_sh AND NOT in_mh THEN 1 ELSE 0 END)
             AS BIGINT) AS n_only_simhash,
           CAST(CASE WHEN count(*) = 0 THEN 0
             ELSE sum(CASE WHEN in_mh AND in_sh THEN 1 ELSE 0 END)
                  * 1000 // count(*) END AS BIGINT) AS jaccard_milli
    FROM u
"""


@register(
    "dedup_detector_agreement",
    _detector_agreement_sql(),
    "near-dup detector agreement audit: the MinHash-LSH candidate "
    "pair set (16 md5 minhashes, 4x4 banding, 3-shingles) vs the "
    "SimHash banded pair set (32-bit, Hamming <= 2) over the SAME "
    "corpus — intersection, each side's exclusive pairs, and the "
    "Jaccard of the two pair sets. Low agreement means the two "
    "detectors see DIFFERENT duplicate populations (shingle-level vs "
    "token-frequency-level similarity) and a production pipeline "
    "should pool them (dedup_pooled_components' argument, here "
    "measured on the text arm's two detectors). Shape: both pair "
    "generators are banded (never all-pairs); agreement is ONE "
    "full-outer join on the pair key + a 1-row rollup",
)
def dedup_detector_agreement(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from jigsaw_spark.operators.dedup import (
        minhash_lsh_pairs,
        simhash_pairs,
    )

    docs = _t(spark, sf_dir, "documents")
    mhp = (
        minhash_lsh_pairs(docs, "doc_id")
        .select("doc_a", "doc_b")
        .withColumn("in_mh", F.lit(True))
    )
    shp = (
        simhash_pairs(docs, "doc_id", max_hamming=2)
        .select("doc_a", "doc_b")
        .withColumn("in_sh", F.lit(True))
    )
    u = mhp.join(shp, ["doc_a", "doc_b"], "full_outer").select(
        F.coalesce("in_mh", F.lit(False)).alias("in_mh"),
        F.coalesce("in_sh", F.lit(False)).alias("in_sh"),
    )
    return u.agg(
        F.sum(F.when(F.col("in_mh"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_minhash"),
        F.sum(F.when(F.col("in_sh"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_simhash"),
        F.sum(F.when(F.col("in_mh") & F.col("in_sh"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_both"),
        F.sum(
            F.when(F.col("in_mh") & ~F.col("in_sh"), 1).otherwise(0)
        )
        .cast("bigint")
        .alias("n_only_minhash"),
        F.sum(
            F.when(F.col("in_sh") & ~F.col("in_mh"), 1).otherwise(0)
        )
        .cast("bigint")
        .alias("n_only_simhash"),
        F.expr(
            "CAST(CASE WHEN count(1) = 0 THEN 0"
            " ELSE sum(CASE WHEN in_mh AND in_sh THEN 1 ELSE 0 END)"
            " * 1000 div count(1) END AS BIGINT)"
        ).alias("jaccard_milli"),
    )


_SIG_SIZES = (8, 16, 32)


# ---------------------------------------------------------------------------
# dedup_signature_size_sweep
# ---------------------------------------------------------------------------


def _sig_size_sql() -> str:
    cfg = []
    for np_ in _SIG_SIZES:
        cfg.append(f"""
    mh_{np_} AS MATERIALIZED (
      SELECT doc_id, seed,
             min(md5(CAST(seed AS VARCHAR) || '|' || shingle)) AS mh
      FROM sh CROSS JOIN (SELECT unnest(range({np_})) AS seed) s
      GROUP BY doc_id, seed),
    bands_{np_} AS (
      SELECT doc_id, seed // 4 AS band,
             string_agg(mh, ',' ORDER BY seed) AS sig
      FROM mh_{np_} GROUP BY doc_id, band),
    cand_{np_} AS MATERIALIZED (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM bands_{np_} a
      JOIN bands_{np_} b ON a.band = b.band AND a.sig = b.sig
                        AND a.doc_id < b.doc_id),
    est_{np_} AS (
      SELECT c.doc_a, c.doc_b,
             CAST(sum(CASE WHEN x.mh = y.mh THEN 1 ELSE 0 END) * 1000
               // {np_} AS BIGINT) AS est_milli
      FROM cand_{np_} c
      JOIN mh_{np_} x ON x.doc_id = c.doc_a
      JOIN mh_{np_} y ON y.doc_id = c.doc_b AND y.seed = x.seed
      GROUP BY 1, 2)""")
    rows = " UNION ALL ".join(
        f"""SELECT {np_} AS num_perm,
             CAST(count(*) AS BIGINT) AS n_candidates,
             CAST(coalesce(sum(abs(e.est_milli - j.jac_milli)), 0)
               // greatest(count(*), 1) AS BIGINT)
               AS mean_abs_err_milli,
             CAST(coalesce(max(abs(e.est_milli - j.jac_milli)), 0)
               AS BIGINT) AS max_abs_err_milli
      FROM est_{np_} e
      JOIN jac j ON e.doc_a = j.doc_a AND e.doc_b = j.doc_b"""
        for np_ in _SIG_SIZES
    )
    cands = " UNION ".join(
        f"SELECT doc_a, doc_b FROM cand_{np_}" for np_ in _SIG_SIZES
    )
    return f"""
    WITH {_TOKS_CTE},
    {_SHINGLES_CTE},
    ssz AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS sz
            FROM sh GROUP BY 1),
    {','.join(cfg)},
    allc AS MATERIALIZED ({cands}),
    inter AS (
      SELECT c.doc_a, c.doc_b, CAST(count(*) AS BIGINT) AS i
      FROM allc c
      JOIN sh a ON a.doc_id = c.doc_a
      JOIN sh b ON b.doc_id = c.doc_b AND b.shingle = a.shingle
      GROUP BY 1, 2),
    jac AS MATERIALIZED (
      SELECT c.doc_a, c.doc_b,
             CAST(coalesce(i.i, 0) * 1000
               // (za.sz + zb.sz - coalesce(i.i, 0)) AS BIGINT)
               AS jac_milli
      FROM allc c
      JOIN ssz za ON c.doc_a = za.doc_id
      JOIN ssz zb ON c.doc_b = zb.doc_id
      LEFT JOIN inter i ON c.doc_a = i.doc_a AND c.doc_b = i.doc_b)
    SELECT CAST(num_perm AS INT) AS num_perm,
           n_candidates, mean_abs_err_milli, max_abs_err_milli
    FROM ({rows})
"""


@register(
    "dedup_signature_size_sweep",
    _sig_size_sql(),
    "MinHash signature-SIZE economics: {8, 16, 32} md5 minhashes at "
    "fixed 4-hash rows ({2, 4, 8} bands) over the same 3-shingle "
    "postings — candidate pairs admitted per size and the "
    "estimate-vs-exact Jaccard error over those candidates (exact "
    "from the shingle postings, both in milli). dedup_band_sweep "
    "prices how ONE 16-hash signature is split; this prices the "
    "signature length itself — at 100 TB the signature IS the dedup "
    "index's storage bill (bytes/doc), and the error curve says "
    "what shrinking it costs. Shape: ONE shingle-posting relation "
    "feeds every config; per config a seed explode bounded by "
    "num_perm, band-equality candidates, and an exact-jaccard join "
    "computed ONCE over the union of candidate sets",
)
def dedup_signature_size_sweep(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Every config's minhash signature is a PREFIX of the 32-seed one
    (mh[s] depends only on seed s), and config np's band b is the 4-seed
    slice [4b, 4b+4) — i.e. band b of the 8-band split of the 32-vector.
    So ONE kernel pass + ONE (band, sig) bucket shuffle serves all three
    configs: pair p is a config-np candidate iff its minimal shared band
    index < np/4 (cand_8 ⊆ cand_16 ⊆ cand_32 = the union the exact-
    jaccard join needs), and the per-config Jaccard estimate is an
    equality fold over the carried signature prefixes — no per-config
    explode/agg relations, no seed-level joins."""
    from jigsaw_spark.operators.dedup import doc_shingles, minhash_vector

    docs = _t(spark, sf_dir, "documents")
    sh = doc_shingles(docs, "doc_id").localCheckpoint()
    ssz = sh.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("sz")
    )
    max_perm = max(_SIG_SIZES)
    vec = minhash_vector(docs, "doc_id", num_hashes=max_perm).localCheckpoint()
    band_structs = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.array_join(F.slice("mhs", b * 4 + 1, 4), ",").alias("sig"),
            )
            for b in range(max_perm // 4)
        ]
    )
    banded = vec.select(
        F.col("doc_id"), F.explode(band_structs).alias("bs")
    ).select("doc_id", F.col("bs.band").alias("band"), F.col("bs.sig").alias("sig"))
    buckets = (
        banded.groupBy("band", "sig")
        .agg(F.array_sort(F.collect_list("doc_id")).alias("ids"))
        .filter(F.size("ids") >= 2)
    )
    # (doc_a, doc_b, mb): candidate pairs with their minimal shared band
    minband = (
        buckets.select(F.col("band"), F.explode("ids").alias("doc_a"), "ids")
        .select("band", "doc_a", F.explode("ids").alias("doc_b"))
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.min("band").alias("mb"))
        # single consumer (ests) — no barrier needed (r14)
    )
    ests = (
        minband.join(
            vec.select(F.col("doc_id").alias("doc_a"), F.col("mhs").alias("va")),
            "doc_a",
        )
        .join(
            vec.select(F.col("doc_id").alias("doc_b"), F.col("mhs").alias("vb")),
            "doc_b",
        )
        .select(
            "doc_a",
            "doc_b",
            "mb",
            *[
                F.expr(
                    f"CAST(size(filter(zip_with(slice(va, 1, {np_}),"
                    f" slice(vb, 1, {np_}), (x, y) -> x = y), v -> v))"
                    f" * 1000 div {np_} AS BIGINT)"
                ).alias(f"est_{np_}")
                for np_ in _SIG_SIZES
            ],
        )
        # lazy: materializes inside the first consuming job, reused by
        # the final scored join (r14, guide §2.4)
        .localCheckpoint(eager=False)
    )
    allc = ests.select("doc_a", "doc_b")
    sa = sh.select(F.col("doc_id").alias("doc_a"), "shingle")
    sb = sh.select(
        F.col("doc_id").alias("doc_b"),
        F.col("shingle").alias("sh2"),
    )
    inter = (
        allc.join(sa, "doc_a")
        .join(
            sb,
            (allc["doc_b"] == sb["doc_b"])
            & (F.col("shingle") == F.col("sh2")),
        )
        .groupBy("doc_a", allc["doc_b"])
        .agg(F.count(F.lit(1)).cast("bigint").alias("i"))
    )
    jac = (
        allc.join(inter, ["doc_a", "doc_b"], "left")
        .join(
            ssz.select(F.col("doc_id").alias("doc_a"), F.col("sz").alias("za")),
            "doc_a",
        )
        .join(
            ssz.select(F.col("doc_id").alias("doc_b"), F.col("sz").alias("zb")),
            "doc_b",
        )
        .select(
            "doc_a",
            "doc_b",
            F.expr(
                "CAST(coalesce(i, 0) * 1000"
                " div (za + zb - coalesce(i, 0)) AS BIGINT)"
            ).alias("jac_milli"),
        )
        .localCheckpoint(eager=False)
    )
    scored = ests.join(jac, ["doc_a", "doc_b"])
    out = []
    for np_ in _SIG_SIZES:
        joined = scored.filter(F.col("mb") < np_ // 4)
        out.append(
            joined.agg(
                F.count(F.lit(1)).cast("bigint").alias("n_candidates"),
                F.expr(
                    f"CAST(coalesce(sum(abs(est_{np_} - jac_milli)), 0)"
                    " div greatest(count(1), 1) AS BIGINT)"
                ).alias("mean_abs_err_milli"),
                F.expr(
                    f"CAST(coalesce(max(abs(est_{np_} - jac_milli)), 0)"
                    " AS BIGINT)"
                ).alias("max_abs_err_milli"),
            ).select(
                F.lit(np_).cast("int").alias("num_perm"),
                "n_candidates",
                "mean_abs_err_milli",
                "max_abs_err_milli",
            )
        )
    res = out[0]
    for o in out[1:]:
        res = res.unionByName(o)
    return res


# ---------------------------------------------------------------------------
# dedup_pooled_text_detectors
# ---------------------------------------------------------------------------


def _pooled_detectors_sql() -> str:
    arms = []
    for arm, etab in (
        ("minhash", "medges"),
        ("simhash", "sedges"),
        ("pooled", "uedges"),
    ):
        arms.append(f"""
    reach_{arm}(u, v) AS (
      SELECT u, v FROM {etab}
      UNION
      SELECT r.u, e.v FROM reach_{arm} r
      JOIN {etab} e ON r.v = e.u WHERE e.v <> r.u),
    comp_{arm} AS (
      SELECT u, least(u, min(v)) AS component
      FROM reach_{arm} GROUP BY u),
    acc_{arm} AS (
      SELECT '{arm}' AS arm,
             CAST(sum(c) AS BIGINT) AS n_nodes,
             CAST(count(*) AS BIGINT) AS n_components,
             CAST(max(c) AS BIGINT) AS max_size
      FROM (SELECT component, CAST(count(*) AS BIGINT) AS c
            FROM comp_{arm} GROUP BY 1) t)""")
    return f"""
    WITH RECURSIVE {_KEEPER_EDGES_CTE},
    ksh AS (
      SELECT DISTINCT doc_id,
             unnest(list_transform(range(1, len(t) - 1),
                    i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))
               AS shingle
      FROM ktoks WHERE len(t) >= 3),
    mh AS (
      SELECT doc_id, seed,
             min(md5(CAST(seed AS VARCHAR) || '|' || shingle)) AS mh
      FROM ksh CROSS JOIN (SELECT unnest(range(16)) AS seed) seeds
      GROUP BY doc_id, seed),
    bands AS (
      SELECT doc_id, seed // 4 AS band,
             string_agg(mh, ',' ORDER BY seed) AS sig
      FROM mh GROUP BY doc_id, band),
    mhp AS MATERIALIZED (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM bands a
      JOIN bands b ON a.band = b.band AND a.sig = b.sig
                  AND a.doc_id < b.doc_id),
    medges AS (
      SELECT doc_a AS u, doc_b AS v FROM mhp
      UNION SELECT doc_b, doc_a FROM mhp),
    sedges AS (SELECT u, v FROM edges),
    uedges AS MATERIALIZED (
      SELECT u, v FROM medges UNION SELECT u, v FROM sedges),
    {','.join(arms)}
    SELECT arm, n_nodes, n_components, max_size
    FROM (SELECT * FROM acc_minhash
          UNION ALL SELECT * FROM acc_simhash
          UNION ALL SELECT * FROM acc_pooled)
"""


@register(
    "dedup_pooled_text_detectors",
    _pooled_detectors_sql(),
    "the cluster-level sequel to dedup_detector_agreement: that "
    "query measured LOW pair-set Jaccard between MinHash-LSH and "
    "SimHash; this runs connected components over each detector's "
    "pair set and their UNION — same accounting (nodes, components, "
    "giant size) per arm, both detectors C4-ORDERED over exact-dedup "
    "keepers (byte-identical copies collapse BEFORE pairing — the "
    "r5 x10-probe lesson; the raw-doc variant probes 15x because "
    "replication densifies the banded graphs into cliques). A "
    "pooled component count below minhash+simhash means the "
    "detectors connect DIFFERENT doc groups and pooling fuses "
    "clusters neither finds alone — the text twin of "
    "dedup_pooled_components' multi-modal recall argument, here for "
    "multi-DETECTOR dedup. Shape: two certified banded pair lists "
    "over keepers, the size-adaptive components operator per arm, "
    "three bounded rollups (the oracle's all-pairs simhash join is "
    "the oracle's affordance, the engine side stays banded)",
)
def dedup_pooled_text_detectors(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from jigsaw_spark.operators.dedup import (
        connected_components,
        keeper_frames,
        minhash_lsh_pairs,
    )

    docs = _t(spark, sf_dir, "documents")
    # ONE exact-dedup pass shared by both detector arms (keeper_pairs
    # would re-run the fp window for its own keepers — Spark cannot
    # dedupe the two identical window subtrees across the arms)
    ded, kpairs = keeper_frames(docs, "doc_id", with_text=True)
    keepers = ded.filter(~F.col("is_dup")).select("doc_id", "text")
    mhp = (
        minhash_lsh_pairs(keepers, "doc_id")
        .select("doc_a", "doc_b")
        .localCheckpoint()
    )
    # kpairs IS keeper_pairs' C4-ordered SimHash banding over keepers
    shp = kpairs.localCheckpoint()
    upairs = mhp.unionByName(shp).distinct()

    def _arm(pairs: DataFrame, arm: str) -> DataFrame:
        comp = connected_components(pairs)
        return (
            comp.groupBy("component")
            .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
            .agg(
                F.sum("c").cast("bigint").alias("n_nodes"),
                F.count(F.lit(1))
                .cast("bigint")
                .alias("n_components"),
                F.max("c").cast("bigint").alias("max_size"),
            )
            .select(F.lit(arm).alias("arm"), "*")
        )

    return (
        _arm(mhp, "minhash")
        .unionByName(_arm(shp, "simhash"))
        .unionByName(_arm(upairs, "pooled"))
    )
