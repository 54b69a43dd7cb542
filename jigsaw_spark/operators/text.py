"""Text-analysis operators for training-data pipelines.

Beyond the reference's surface (BASELINE.json north star): tokenization,
quality scoring, language ID, and document fingerprinting over a `text`
column — all pure column expressions (JVM-side, whole-stage codegen; no
Python in the hot path). Each expression builder has an adjacent `_sql`
renderer producing the identical DuckDB computation so the oracle can never
drift from the engine.

Scale: every operator here is a narrow per-row projection — no shuffle, no
UDF, fully parallel; at 100 TB these run at parquet-scan speed.
"""

from __future__ import annotations

from collections.abc import Iterator

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

TOKEN_PATTERN = "[^a-z0-9]+"

# small deterministic marker sets for the language-ID heuristic
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "and", "of", "to"),
    "es": ("el", "la", "de", "y", "que"),
    "fr": ("le", "la", "de", "et", "les"),
}

STOPWORDS: tuple[str, ...] = ("a", "the", "of", "and", "to", "in")


def _c(col: Column | str) -> Column:
    return F.col(col) if isinstance(col, str) else col


# -- tokenization ------------------------------------------------------------


def tokens_expr(text: Column | str) -> Column:
    """lower → split on non-alphanumeric runs → drop empty edge tokens."""
    return F.filter(
        F.split(F.lower(_c(text)), TOKEN_PATTERN), lambda x: x != F.lit("")
    )


def tokens_sql(text: str = "text") -> str:
    return (
        f"list_filter(regexp_split_to_array(lower({text}), '{TOKEN_PATTERN}'),"
        " x -> x <> '')"
    )


def shingles_expr(tokens: Column | str, n: int = 3) -> Column:
    """Word n-grams as space-joined strings. TOTAL on any input: below n
    tokens it returns an empty array. The guard must live INSIDE the
    expression (not in a caller-side filter) because Catalyst may evaluate
    a derived predicate containing this transform before the caller's
    filter runs (constraint inference / projection collapse) — Spark's
    ``sequence`` runs backwards for start > stop and ``element_at`` throws
    out of bounds, so an external guard is not reorder-safe."""
    t = _c(tokens)
    idx = F.sequence(F.lit(1), F.size(t) - F.lit(n - 1))
    return F.when(
        F.size(t) >= F.lit(n),
        F.transform(
            idx,
            lambda i: F.concat_ws(
                " ", *[F.element_at(t, i + F.lit(k)) for k in range(n)]
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))


def shingles_sql(tokens: str = "t", n: int = 3) -> str:
    parts = " || ' ' || ".join(f"{tokens}[i+{k}]" if k else f"{tokens}[i]" for k in range(n))
    return f"list_transform(range(1, len({tokens}) - {n - 2}), i -> {parts})"


def skip_shingles_expr(tokens: Column | str, n: int = 13) -> Column:
    """Skip-gram shingle keys: every (n+1)-token window with the middle
    token deleted, so two texts that differ by ONE token inside the
    window still collide — the one-token-perturbation tolerance of
    LM-eval decontamination sweeps (13-gram rule with a skip). The
    deleted slot renders as '#' (tokens are alphanumeric-only, so the
    marker cannot collide with a real token). TOTAL like
    :func:`shingles_expr`: below n+1 tokens returns an empty array, and
    the guard lives inside the expression for reorder-safety."""
    t = _c(tokens)
    w = n + 1
    drop = w // 2
    idx = F.sequence(F.lit(1), F.size(t) - F.lit(w - 1))
    return F.when(
        F.size(t) >= F.lit(w),
        F.transform(
            idx,
            lambda i: F.concat_ws(
                " ",
                *[
                    F.lit("#") if k == drop else F.element_at(t, i + F.lit(k))
                    for k in range(w)
                ],
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))


def skip_shingles_sql(tokens: str = "t", n: int = 13) -> str:
    w = n + 1
    drop = w // 2
    terms = []
    for k in range(w):
        if k == drop:
            terms.append("'#'")
        elif k == 0:
            terms.append(f"{tokens}[i]")
        else:
            terms.append(f"{tokens}[i+{k}]")
    parts = " || ' ' || ".join(terms)
    return f"list_transform(range(1, len({tokens}) - {w - 2}), i -> {parts})"


# BPE-ish pre-tokenization (GPT-2 style, simplified): contraction pieces,
# space-prefixed letter runs, space-prefixed digit runs, punctuation runs.
# Applied to lowered text; no lookarounds so Java regex and RE2 agree.
BPEISH_PATTERN = r"'[a-z]+| ?[a-z]+| ?[0-9]+| ?[^a-z0-9\s']+"


def bpeish_tokens_expr(text: Column | str) -> Column:
    """Token-count estimator in the BPE pre-tokenizer style: counts the
    word/number/punctuation pieces a byte-pair encoder would start from —
    a cheap, deterministic proxy for LLM token budgets."""
    return F.regexp_extract_all(F.lower(_c(text)), F.lit(BPEISH_PATTERN), 0)


def bpeish_tokens_sql(text: str = "text") -> str:
    pattern = BPEISH_PATTERN.replace("'", "''")
    return f"regexp_extract_all(lower({text}), '{pattern}')"


# -- quality scoring ---------------------------------------------------------


def avg_token_len_expr(tokens: Column | str) -> Column:
    t = _c(tokens)
    total = F.aggregate(
        F.transform(t, lambda x: F.length(x)), F.lit(0), lambda acc, v: acc + v
    )
    return total.cast("double") / F.size(t)


def avg_token_len_sql(tokens: str = "t") -> str:
    return (
        f"list_sum(list_transform({tokens}, x -> length(x)))::DOUBLE / len({tokens})"
    )


def stopword_ratio_expr(tokens: Column | str, stopwords=STOPWORDS) -> Column:
    t = _c(tokens)
    hits = F.size(F.filter(t, lambda x: x.isin(list(stopwords))))
    return hits.cast("double") / F.size(t)


def stopword_ratio_sql(tokens: str = "t", stopwords=STOPWORDS) -> str:
    inlist = ", ".join(f"'{s}'" for s in stopwords)
    return f"len(list_filter({tokens}, x -> x IN ({inlist})))::DOUBLE / len({tokens})"


def alnum_ratio_expr(text: Column | str) -> Column:
    """Fraction of characters that are [a-z0-9 ] after lowering — a
    punctuation/noise proxy."""
    lowered = F.lower(_c(text))
    kept = F.length(F.regexp_replace(lowered, "[^a-z0-9 ]", ""))
    return kept.cast("double") / F.length(lowered)


def alnum_ratio_sql(text: str = "text") -> str:
    return (
        f"length(regexp_replace(lower({text}), '[^a-z0-9 ]', '', 'g'))::DOUBLE"
        f" / length(lower({text}))"
    )


# -- language ID -------------------------------------------------------------


def lang_hits_expr(tokens: Column | str, lang: str) -> Column:
    t = _c(tokens)
    return F.size(F.filter(t, lambda x: x.isin(list(LANG_MARKERS[lang]))))


def lang_hits_sql(tokens: str, lang: str) -> str:
    inlist = ", ".join(f"'{m}'" for m in LANG_MARKERS[lang])
    return f"len(list_filter({tokens}, x -> x IN ({inlist})))"


def lang_predict_expr(en: Column, es: Column, fr: Column) -> Column:
    """argmax with deterministic tie order en > es > fr."""
    return (
        F.when((en >= es) & (en >= fr), F.lit("en"))
        .when(es >= fr, F.lit("es"))
        .otherwise(F.lit("fr"))
    )


def lang_predict_sql(en: str, es: str, fr: str) -> str:
    return (
        f"CASE WHEN {en} >= {es} AND {en} >= {fr} THEN 'en' "
        f"WHEN {es} >= {fr} THEN 'es' ELSE 'fr' END"
    )


# -- fingerprinting ----------------------------------------------------------


def fingerprint_expr(tokens: Column | str) -> Column:
    """Normalization fingerprint: md5 over the canonical token stream —
    whitespace/punctuation/case-insensitive duplicate detector."""
    return F.md5(F.array_join(_c(tokens), " "))


def fingerprint_sql(tokens: str = "t") -> str:
    return f"md5(array_to_string({tokens}, ' '))"


# -- TF-IDF ------------------------------------------------------------------


def tfidf_top_terms(
    df, key: str, text: str = "text", top_n: int = 3
):
    """Per-document top-N terms by smoothed TF-IDF:
    ``score = tf · (ln((1 + N) / (1 + df)) + 1)`` (sklearn's smooth-idf),
    where tf = raw term count in the doc, df = number of docs containing the
    term, N = total docs in the input.

    Plan shape: explode → (doc, term) hash-agg (map-side combine carries one
    row per partition×term), term-level doc-frequency agg, broadcast join of
    the scalar N, then a per-doc top-N window partitioned by doc — every
    shuffle is on an aggregation key, nothing quadratic. Tie-break: round-9
    score desc, term asc, so the top-N boundary is engine-stable."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    toks = df.select(F.col(key), tokens_expr(text).alias("_t"))
    terms = (
        toks.select(F.col(key), F.explode("_t").alias("term"))
        .groupBy(key, "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    docfreq = terms.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n = df.agg(F.count(F.lit(1)).alias("n_docs"))
    scored = (
        terms.join(docfreq, "term")
        .crossJoin(F.broadcast(n))
        .withColumn(
            "score",
            F.col("tf")
            * (
                F.log((F.lit(1) + F.col("n_docs")) / (F.lit(1) + F.col("df")))
                + F.lit(1.0)
            ),
        )
    )
    w = Window.partitionBy(key).orderBy(F.round("score", 9).desc(), F.col("term"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= top_n)
        .select(
            F.col(key),
            "term",
            F.round("score", 4).alias("tfidf"),
            "rank",
        )
    )


# -- chunking / packing (LLM training-data prep) -----------------------------


def chunk_documents(
    df: "DataFrame",
    key: str,
    text: str = "text",
    chunk_size: int = 64,
    overlap: int = 16,
) -> "DataFrame":
    """Split each document into overlapping token chunks — the standard
    context-window prep for embedding / training. Output: (key, chunk_idx,
    n_chunk_tokens, chunk_text). Entirely narrow (sequence + explode +
    slice inside the row): no shuffle, no Python; chunk fan-out happens in
    whole-stage codegen."""
    if overlap >= chunk_size:
        raise ValueError("overlap must be < chunk_size")
    stride = chunk_size - overlap
    toks = tokens_expr(text)
    starts = F.sequence(
        F.lit(0), F.greatest(F.size("_t") - 1, F.lit(0)), F.lit(stride)
    )
    chunk = F.slice("_t", F.col("_s") + 1, chunk_size)
    return (
        df.select(F.col(key), toks.alias("_t"))
        .filter(F.size("_t") >= 1)
        .select(F.col(key), "_t", F.posexplode(starts).alias("chunk_idx", "_s"))
        .select(
            F.col(key),
            "chunk_idx",
            F.size(chunk).alias("n_chunk_tokens"),
            F.array_join(chunk, " ").alias("chunk_text"),
        )
    )


def pack_sequences(
    df: "DataFrame",
    key_cols: list[str],
    token_count_col: str,
    budget: int,
    partition_cols: list[str] | None = None,
) -> "DataFrame":
    """Sequential sequence packing: documents are laid out in deterministic
    key order and cut into bins of ``budget`` tokens — bin = floor(tokens
    before this doc / budget), i.e. the "concatenate then chop at context
    boundaries" layout used to pack LLM pretraining batches. Adds
    (pack_offset, pack_bin).

    ``partition_cols`` scopes the packing (per source / shard): each scope
    packs independently and in parallel — the scale path, since an
    unpartitioned pack is a global running sum (fine to ~10⁷ docs, one
    range-shuffle; prefer scoped packing beyond that)."""
    from pyspark.sql.window import Window

    parts = partition_cols or []
    w = (
        Window.partitionBy(*parts)
        .orderBy(*[F.col(c) for c in key_cols])
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    before = F.coalesce(F.sum(token_count_col).over(w), F.lit(0))
    return df.withColumn("pack_offset", before.cast("bigint")).withColumn(
        "pack_bin", F.floor(F.col("pack_offset") / budget).cast("int")
    )


def unigram_logprob(df, key: str, text: str = "text"):
    """Corpus-unigram language-model score per document — the KenLM-lite
    of data curation: documents whose tokens are improbable under the
    corpus's own unigram distribution are outliers (OCR garbage, wrong
    language, boilerplate codes). score = mean over tokens of
    -ln(count(tok)/total_tokens); lower = more typical.

    Plan shape: one explode → (term) hash-agg builds the LM (map-side
    combine), a 1-row total broadcast, one shuffle join token→prob, one
    per-doc re-agg. Nothing quadratic; the LM table scales with vocab,
    not corpus size. Cross-engine: ln() of identical int-ratio operands +
    a round-4 mean keeps the value hash stable (same contract as
    tfidf_top_terms)."""
    from pyspark.sql import functions as F

    toks = df.select(F.col(key), F.explode(tokens_expr(text)).alias("term"))
    lm = toks.groupBy("term").agg(F.count(F.lit(1)).alias("cnt"))
    total = lm.agg(F.sum("cnt").alias("total"))
    return (
        toks.join(lm, "term")
        .crossJoin(F.broadcast(total))
        .groupBy(key)
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.round(
                F.avg(-F.log(F.col("cnt").cast("double") / F.col("total"))), 4
            ).alias("neg_logprob"),
        )
    )


def bm25_topk(
    df,
    key: str,
    query_terms: list[str],
    text: str = "text",
    k: int = 20,
    k1: float = 1.2,
    b: float = 0.75,
):
    """BM25 retrieval of the top-k documents for a fixed query term set —
    the classic quality-weighted lexical search over a training corpus
    (dedup triage, contamination review, targeted sampling).

    idf = ln(1 + (N - df + 0.5)/(df + 0.5)); per-doc term score =
    idf · tf·(k1+1)/(tf + k1·(1 - b + b·len/avglen)).

    Plan shape: the query-term filter prunes the exploded postings BEFORE
    any aggregation (the inverted-index discipline — only |Q| terms'
    postings flow); doc-length and corpus stats are one agg + two 1-row
    broadcasts; final top-k is TakeOrdered (per-partition heaps, no global
    sort). Tie-break round-9 score + key keeps the boundary stable."""
    from pyspark.sql import functions as F

    toks = df.select(F.col(key), F.explode(tokens_expr(text)).alias("term"))
    doclen = toks.groupBy(key).agg(F.count(F.lit(1)).alias("dl"))
    stats = doclen.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.avg("dl").alias("avgdl"),
    )
    qterms = [t.lower() for t in query_terms]
    tf = (
        toks.filter(F.col("term").isin(qterms))
        .groupBy(key, "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    scored = (
        tf.join(F.broadcast(dfreq), "term")
        .join(doclen, key)
        .crossJoin(F.broadcast(stats))
        .withColumn(
            "idf",
            F.log(
                1
                + (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5)
            ),
        )
        .withColumn(
            "tscore",
            F.col("idf")
            * F.col("tf")
            * (k1 + 1)
            / (
                F.col("tf")
                + k1 * (1 - b + b * F.col("dl") / F.col("avgdl"))
            ),
        )
        .groupBy(key)
        .agg(F.round(F.sum("tscore"), 4).alias("bm25"))
    )
    return (
        scored.orderBy(F.round("bm25", 9).desc(), F.col(key))
        .limit(k)
    )


def boilerplate_coverage(
    df,
    key: str = "doc_id",
    text: str = "text",
    n: int = 3,
    min_docs: int = 3,
    frac_threshold: float = 0.5,
):
    """Corpus-frequent n-gram ("boilerplate") coverage — the n-gram
    generalization of C4's repeated-line rule (Raffel et al. 2020 drop any
    line occurring ≥3 times in the corpus; reference pipelines apply the
    same idea to templated spans). A gram is *boilerplate* when it appears
    in ≥ ``min_docs`` DISTINCT documents; each document is scored by the
    fraction of its distinct grams that are boilerplate.

    Returns ``(key, n_grams, n_boiler, boiler_frac, is_boiler)`` with
    ``n_grams`` counting the document's distinct grams.

    Scale shape: the tokenizer runs behind a Generate barrier
    (``explode(array(tokens))``) — higher-order shingle lambdas are
    INTERPRETED (no whole-stage codegen), so if CollapseProject inlines the
    regex tokenizer into the lambda's per-element ``element_at`` calls the
    split re-runs per gram: O(tokens²) per document (measured: 50 s vs
    ~2 s at sf0.1). One explode of the per-doc DISTINCT gram set feeds
    everything: gram→doc-frequency is a plain ``count(*)`` hash aggregate
    (grams are pre-distinct per doc, so no count-distinct Expand), the
    frequent set broadcasts back, and ``n_grams``/``n_boiler`` come out of
    a single per-doc aggregate. The frequent set scales with the number of
    *repeated* grams, not corpus size — at 100 TB replace the raw gram
    string with ``xxhash64(gram)`` before the shuffle (8 bytes vs
    arbitrary span text; collision odds are the standard 2⁻⁶⁴ per pair)
    and keep a df-cap on ultra-common grams the same way
    `dedup.ngram_jaccard_pairs` caps postings.
    """
    from pyspark.sql import functions as F

    from jigsaw_spark.session import widen

    toks = widen(df).select(
        F.col(key), F.explode(F.array(tokens_expr(text))).alias("_t")
    ).where(F.size("_t") >= n)
    ex = toks.select(
        key,
        F.explode(F.array_distinct(shingles_expr("_t", n))).alias("gram"),
    )
    boiler = (
        ex.groupBy("gram")
        .agg(F.count(F.lit(1)).alias("df_docs"))
        .where(F.col("df_docs") >= min_docs)
        .select("gram")
    )
    hit = F.col("_hit").isNotNull().cast("long")
    per_doc = (
        ex.join(
            F.broadcast(boiler.withColumn("_hit", F.lit(1))), "gram", "left"
        )
        .groupBy(key)
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.sum(hit).alias("n_boiler"),
        )
    )
    frac = F.round(F.col("n_boiler") / F.col("n_grams"), 6)
    return per_doc.select(
        key,
        "n_grams",
        "n_boiler",
        frac.alias("boiler_frac"),
        (frac > F.lit(frac_threshold)).alias("is_boiler"),
    )


def bpe_train(
    df: DataFrame,
    text: str = "text",
    n_merges: int = 20,
    min_count: int = 2,
    checkpoint_every: int = 5,
):
    """Distributed BPE tokenizer training (Sennrich et al. 2016): iterate
    (count adjacent symbol pairs over the weighted word table → merge the
    most frequent pair everywhere), ``n_merges`` times.

    Returns ``(merges_df, vocab_df)``: the learned merge table
    (rank, left, right, freq) and the final symbolized word table.

    Scale shape: the corpus is scanned ONCE into a (word, count) table —
    all iterations run over that weighted vocab, which is |vocab| rows,
    not |corpus| (the classic trick that makes BPE training tractable).
    Per iteration: a map-side pair explode + ONE hash agg + a top-1
    TakeOrdered (deterministic tiebreak on the pair itself), then a
    map-only JVM ``aggregate`` fold applies the merge left-to-right
    greedy non-overlapping — no Python in the loop, no full-corpus
    rescan. Lineage is truncated every ``checkpoint_every`` rounds
    (localCheckpoint), the same pattern as dedup's iterative CC.

    Tie-break = (freq DESC, left ASC, right ASC) so the merge sequence is
    total-order deterministic and partition-independent; the pure-Python
    parity test reproduces it bit-for-bit.
    """
    spark = df.sparkSession
    words = (
        df.select(F.explode(tokens_expr(text)).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    cur = words.withColumn("toks", F.split("w", "")).localCheckpoint()

    empty_pairs = F.array().cast("array<struct<a:string,b:string>>")
    merges: list[tuple[int, str, str, int]] = []
    for step in range(n_merges):
        pair_arr = F.when(
            F.size("toks") >= 2,
            F.transform(
                F.sequence(F.lit(1), F.size("toks") - 1),
                lambda i: F.struct(
                    F.element_at("toks", i).alias("a"),
                    F.element_at("toks", i + F.lit(1)).alias("b"),
                ),
            ),
        ).otherwise(empty_pairs)
        top = (
            cur.select("cnt", F.explode(pair_arr).alias("p"))
            .groupBy(F.col("p.a").alias("a"), F.col("p.b").alias("b"))
            .agg(F.sum("cnt").alias("n"))
            .orderBy(F.desc("n"), F.asc("a"), F.asc("b"))
            .limit(1)
            .collect()
        )
        if not top or top[0]["n"] < min_count:
            break
        a, b, n = top[0]["a"], top[0]["b"], int(top[0]["n"])
        merges.append((step, a, b, n))
        la, lb, lab = F.lit(a), F.lit(b), F.lit(a + b)
        cur = cur.withColumn(
            "toks",
            F.aggregate(
                "toks",
                F.array().cast("array<string>"),
                lambda acc, x: F.when(
                    (F.size(acc) > 0)
                    & (F.element_at(acc, -1) == la)
                    & (x == lb),
                    F.concat(
                        F.slice(acc, 1, F.size(acc) - 1), F.array(lab)
                    ),
                ).otherwise(F.concat(acc, F.array(x))),
            ),
        )
        if (step + 1) % checkpoint_every == 0:
            cur = cur.localCheckpoint()

    merges_df = spark.createDataFrame(
        merges, "rank int, left string, right string, freq long"
    )
    return merges_df, cur.select("w", "cnt", "toks")


def bpe_encode(
    df: DataFrame,
    merges: list[tuple[str, str]],
    key: str,
    text: str = "text",
) -> DataFrame:
    """Apply a learned BPE merge table to a corpus (the encode step that
    runs at full corpus scale, unlike training which runs at vocab scale).

    ``merges`` is the (left, right) list in rank order, exactly as
    produced by :func:`bpe_train`. Encoding replays the merges in rank
    order with the same greedy left-to-right non-overlapping rule, so a
    word seen at training time encodes to exactly its training-vocab
    symbolization (pinned by tests/test_bpe_train.py parity).

    Scale shape: ONE map-only Arrow kernel over the corpus — the merge
    table rides along in the task closure (it is KB-scale: vocab_size -
    base_chars entries), and a per-batch word cache collapses the work to
    O(distinct words per batch), the same vocab-not-corpus trick as
    training. Zero shuffle; output rows stay with their input partition.
    """
    key_type = df.schema[key].dataType.simpleString()
    # deliberately NOT repartitioned before the kernel: the per-batch
    # word cache makes the work vocab-bound, so a single worker already
    # encodes the corpus in ~0.5s at sf0.1 — an extra full-text exchange
    # measured net-neutral-to-slower (r6 A/B); on a real cluster the
    # multi-file input is already spread
    toks = df.select(F.col(key), tokens_expr(text).alias("toks"))
    merge_list = [(a, b) for a, b in merges]

    def encode_word(w: str, cache: dict) -> list[str]:
        got = cache.get(w)
        if got is None:
            symbols = list(w)
            for a, b in merge_list:
                out, i, n = [], 0, len(symbols)
                while i < n:
                    if i + 1 < n and symbols[i] == a and symbols[i + 1] == b:
                        out.append(a + b)
                        i += 2
                    else:
                        out.append(symbols[i])
                        i += 1
                symbols = out
            got = cache[w] = symbols
        return got

    def kernel(batches: Iterator) -> Iterator:
        import pandas as pd

        cache: dict = {}
        for pdf in batches:
            pieces = [
                [p for w in ws for p in encode_word(w, cache)]
                for ws in pdf["toks"]
            ]
            yield pd.DataFrame(
                {
                    key: pdf[key],
                    "pieces": pieces,
                    "n_pieces": [len(p) for p in pieces],
                }
            )

    return toks.mapInPandas(
        kernel, f"{key} {key_type}, pieces array<string>, n_pieces int"
    )


def char_entropy(df: DataFrame, key: str, text: str = "text") -> DataFrame:
    """Per-document character-level Shannon entropy (nats) — the cheap
    gibberish/OCR-garbage curation signal (low entropy = repeated filler,
    high = random bytes; natural language sits in a stable band).

    Algebraic one-pass form: H = ln(n) - (Σ c·ln c)/n over the per-char
    counts c, so the plan is ONE explode + TWO hash aggs (both map-side
    combinable) — no window, no per-doc state. Entropy double-rounds
    (9 digits, then 4): the inner round snaps ~1e-13 double-sum /
    libm-ulp noise BEFORE the coarse round, so a value sitting within
    noise of a 0.00005 boundary cannot land on opposite sides in Spark
    vs DuckDB (the r2 driver hash-flake class)."""
    chars = df.select(
        F.col(key), F.explode(F.split(F.col(text), "")).alias("_ch")
    ).filter(F.col("_ch") != "")
    counts = chars.groupBy(key, "_ch").agg(F.count(F.lit(1)).alias("_c"))
    return counts.groupBy(key).agg(
        F.sum("_c").alias("n_chars"),
        F.round(
            F.round(
                F.log(F.sum("_c").cast("double"))
                - F.sum(F.col("_c").cast("double") * F.log("_c"))
                / F.sum("_c").cast("double"),
                9,
            ),
            4,
        ).alias("entropy_nats"),
        F.count(F.lit(1)).alias("n_distinct_chars"),
    )


def compression_ratio(df: DataFrame, key: str, text: str = "text") -> DataFrame:
    """zlib compression-ratio quality signal (low ratio = templated or
    repetitive text, very high = random noise — the cheap single-number
    redundancy probe used alongside the Gopher repetition rules).

    Runs as a `mapInArrow` kernel (RecordBatch-direct — no pandas
    conversion for a bytes-in/floats-out op); zero shuffle, scales
    linearly. Deterministic for a fixed zlib level; not SQL-expressible
    (no oracle), parity-tested against local zlib."""
    import zlib

    import pyarrow as pa

    key_type = df.schema[key].dataType.simpleString()

    def kernel(batches):
        for batch in batches:
            keys = batch.column(key)
            texts = batch.column(text)
            ratios, raws, comps = [], [], []
            for t in texts:
                raw = (t.as_py() or "").encode()
                comp = zlib.compress(raw, 6)
                raws.append(len(raw))
                comps.append(len(comp))
                ratios.append(
                    round(len(comp) / len(raw), 6) if raw else None
                )
            yield pa.RecordBatch.from_arrays(
                [
                    keys,
                    pa.array(raws, pa.int64()),
                    pa.array(comps, pa.int64()),
                    pa.array(ratios, pa.float64()),
                ],
                names=[key, "raw_bytes", "compressed_bytes", "ratio"],
            )

    return df.select(key, text).mapInArrow(
        kernel,
        f"{key} {key_type}, raw_bytes long, compressed_bytes long, ratio double",
    )
