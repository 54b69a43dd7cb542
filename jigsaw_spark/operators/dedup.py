"""Deduplication operators: exact, n-gram Jaccard, MinHash-LSH, SimHash.

Training-data-pipeline extensions (BASELINE.json north star). All variants
are compositions of built-in DataFrame ops — shuffles are on content-derived
keys (fingerprint / shingle / band signature / simhash band), which is the
standard distributed-dedup shape:

  - exact: one hash-aggregate on the normalization fingerprint.
  - n-gram Jaccard: shingle inverted index self-join → pair intersection
    counts. Scale note: at 100 TB, drop shingles whose posting list exceeds
    a cap (ultra-common shingles contribute no discrimination but quadratic
    join blowup); the cap is a parameter here, exact mode = no cap.
  - MinHash-LSH: k seeded min-hashes per doc → b bands of r rows → bucket
    join on (band, signature). Pseudo-random hash family = md5(seed|shingle)
    (portable, partition-independent; see functions/hashing.py rationale).
  - SimHash: 32-bit signature from per-token md5 nibbles, token-frequency
    weighted bit majority; near-dup = Hamming(sig_a, sig_b) <= threshold.

Every operator is expressible in ANSI SQL with identical md5-derived
randomness, so each has an exact DuckDB oracle (plans/dedup.py).

Execution strategy: signature computation (minhash, simhash) is perfectly
row-local, so the production path runs it as an Arrow-batched `mapInPandas`
kernel — ZERO shuffle, linear scan, embarrassingly parallel at any scale.
The naive relational formulation (explode shingles × seeds → groupBy) is
what the DuckDB oracle runs, but as a Spark plan it shuffles |docs|·|seeds|
·|shingles| rows, which is exactly the kind of plan that dies at 100 TB.
Only the LSH bucket join shuffles — on (band, sig), the minimal key.
Tokenization stays in Spark (`tokens_expr`) so the Python kernels can never
drift from the SQL tokenizer.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from jigsaw_spark.operators.text import fingerprint_expr, shingles_expr, tokens_expr


def _spread(df: DataFrame) -> DataFrame:
    """Round-robin repartition to full parallelism before a map-only Python
    kernel. A single dense parquet file arrives as ONE partition on a local
    read (and as few fat partitions on a cluster); without this the kernel
    serializes on one core. The shuffled payload is just (key, tokens) —
    negligible next to the hash work it unlocks."""
    sc = df.sparkSession.sparkContext
    return df.repartition(sc.defaultParallelism)


def exact_dedup(df: DataFrame, key: str, text: str = "text") -> DataFrame:
    """Assign every row its canonical keeper: min(key) over rows sharing the
    normalization fingerprint. `is_dup` marks rows to drop.

    Deliberately NOT _spread: the pre-shuffle work is ONE md5 per row
    (unlike the explode-heavy operators), and the fp window shuffles
    immediately anyway — an extra round-robin exchange of the full text
    payload measured net-SLOWER across every consumer (r6)."""
    from pyspark.sql.window import Window

    fp = fingerprint_expr(tokens_expr(text))
    w = Window.partitionBy("fp")
    return (
        df.withColumn("fp", fp)
        .withColumn("keeper", F.min(key).over(w))
        .withColumn("is_dup", F.col(key) != F.col("keeper"))
    )


def keeper_pairs(df: DataFrame, key: str = "doc_id") -> DataFrame:
    """Near-dup pairs (doc_a < doc_b) over EXACT-DEDUP KEEPERS — the
    C4-ordered keeper-graph convention every graph query shares (exact
    dedup first so byte-identical copies never inflate the pair space,
    then SimHash banding at Hamming <= 2). The one Spark definition of
    the keeper graph; its symmetric edge list is
    ``symmetric_edges(keeper_pairs(df))`` and the DuckDB twin is
    ``_KEEPER_EDGES_CTE`` in plans/dedup.py.

    The pairs come back behind ONE lazy ``localCheckpoint``: the first
    action that reads them stores them as part of its own job, and every
    later consumer (degree aggs, both edge orientations, frontier joins,
    components rounds) reads the stored pairs instead of re-deriving
    the dedup lineage. Callers add no checkpoint of their own. An eager
    checkpoint here would be a separately scheduled job; it added one
    to graph_random_walk and graph_node2vec_walk (SCALE.md §7.1)."""
    pairs = _pairs_of_keepers(_keeper_sig_frame(df, key), key)
    return pairs.localCheckpoint(eager=False)


def _pairs_of_keepers(
    frame: DataFrame, key: str, max_hamming: int = 2
) -> DataFrame:
    """(doc_a, doc_b) SimHash pairs among the exact-dedup keepers of a
    :func:`_keeper_sig_frame`; token-less keepers (NULL signature) get
    no pair."""
    return _pairs_from_sigs(
        frame.filter(
            ~F.col("is_dup") & F.col("simhash").isNotNull()
        ).select(key, "simhash"),
        key,
        max_hamming,
    ).select("doc_a", "doc_b")


def _keeper_sig_frame(
    df: DataFrame, key: str, text: str = "text", num_bits: int = 32
) -> DataFrame:
    """(key, keeper, is_dup, simhash): the exact-dedup keeper map AND
    the SimHash signature from ONE map-side pass over the corpus —
    tokens, fingerprint and signature are all computed before the fp
    window, which then partitions (key, fp, simhash) rows. One
    token-array round-robin exchange (``_spread``) replaces the old
    text shuffle through the fp window; token arrays are about
    text-sized, so this path is not exchange-free, but the fp window
    and the checkpoint are narrow (r13 verdict #3).

    Signature arithmetic is identical to :func:`simhash` (same
    tokens, same md5 bit rows); token-less docs carry NULL (the
    explode semantics of :func:`simhash` drops empty docs from pairs
    the same way) but keep their keeper/is_dup exactly as
    :func:`exact_dedup` assigns them. Signatures are computed for dup
    rows too — dup-ness is unknowable before the fp window, and
    hashing every doc map-side is the price of never moving text."""
    import numpy as np

    from pyspark.sql.window import Window

    key_type = df.schema[key].dataType.simpleString()
    src = _spread(
        df.select(F.col(key), tokens_expr(text).alias("toks"))
    ).withColumn("fp", fingerprint_expr(F.col("toks")))
    hex_chars = num_bits // 4
    down_shifts = np.arange(num_bits - 1, -1, -1, dtype=np.uint64)
    weights = 1 << np.arange(num_bits, dtype=np.uint64)

    def compute(batches: Iterator) -> Iterator:
        import pandas as pd

        token_val = _md5_val_factory(hex_chars)
        for pdf in batches:
            toks_np = pdf["toks"].to_numpy()
            n = len(toks_np)
            sel: list = []
            tok_lists: list = []
            for i, t in enumerate(toks_np):
                if t is not None and len(t) > 0:
                    sel.append(i)
                    tok_lists.append(list(t))
            vals = np.zeros(n, dtype=np.int64)
            mask = np.ones(n, dtype=bool)
            if sel:
                sigs = _simhash_batch(
                    tok_lists, token_val, down_shifts, weights
                )
                idx = np.asarray(sel, dtype=np.int64)
                vals[idx] = sigs
                mask[idx] = False
            out = pd.DataFrame(
                {key: pdf[key].values, "fp": pdf["fp"].values}
            )
            out["simhash"] = pd.arrays.IntegerArray(vals, mask)
            yield out

    sigged = src.mapInPandas(
        compute, f"{key} {key_type}, fp string, simhash bigint"
    )
    w = Window.partitionBy("fp")
    return (
        sigged.withColumn("keeper", F.min(key).over(w))
        .withColumn("is_dup", F.col(key) != F.col("keeper"))
        .select(key, "keeper", "is_dup", "simhash")
    )


def keeper_frames(
    df: DataFrame, key: str = "doc_id"
) -> tuple[DataFrame, DataFrame]:
    """(ded, pairs): ONE checkpointed exact-dedup pass shared by the
    keeper fold and the pair graph. Queries that need both the
    per-doc keeper map (or is_dup flags) AND :func:`keeper_pairs`
    were paying the fp window twice — Spark cannot dedupe the two
    identical window subtrees — so this materializes the window once
    (r13 optimization; one full-text shuffle instead of two at any
    scale). A per-doc near-dup cluster label is
    :func:`near_dup_keepers`, not a fold over these two frames.

    Tokens, fingerprint and SimHash signature are all
    computed MAP-SIDE in one kernel pass and the fp window runs over
    (key, fp, simhash) rows, so text never crosses an exchange and
    the checkpoint is the narrow (key, keeper, is_dup, simhash)
    frame — no text payload in executor storage — and ``pairs``
    re-derives from it with JVM banding only (no Python kernel on
    re-reference). ``ded`` carries (key, keeper, is_dup); a consumer
    that reads keeper text semi-joins the keeper ids back to the
    corpus."""
    frame = _keeper_sig_frame(df, key).localCheckpoint()
    return frame.select(key, "keeper", "is_dup"), _pairs_of_keepers(frame, key)


def symmetric_edges(pairs: DataFrame) -> DataFrame:
    """Both orientations (u, v) of an undirected (doc_a, doc_b) pair
    list — the adjacency form the frontier joins consume."""
    return pairs.select(
        F.col("doc_a").alias("u"), F.col("doc_b").alias("v")
    ).union(
        pairs.select(F.col("doc_b").alias("u"), F.col("doc_a").alias("v"))
    )


def doc_shingles(df: DataFrame, key: str, text: str = "text", n: int = 3) -> DataFrame:
    """(key, shingle) distinct pairs — the inverted-index relation.

    Keep the post-explode ``.distinct()`` (vs the tempting narrow
    ``array_distinct``-before-explode): with the narrow form, Catalyst's
    InferFiltersFromGenerate + projection collapse inline the full
    tokenize→shingle lambda chain into the scan-level filter and evaluate
    it ~4× per row (measured 5-9× slower end-to-end). The distinct is a
    cheap aggregation on already-exploded rows AND a common-subexpression
    barrier; downstream consumers reuse its exchange."""
    toks = tokens_expr(text)
    return (
        _spread(df.select(F.col(key), toks.alias("_t")).filter(F.size("_t") >= n))
        .select(F.col(key), F.explode(shingles_expr("_t", n)).alias("shingle"))
        .distinct()
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    key: str,
    text: str = "text",
    n: int = 3,
    threshold: float = 0.8,
    max_posting: int | None = None,
) -> DataFrame:
    """Pairs (a < b) with trigram-set Jaccard >= threshold.

    ``max_posting``: scale knob — shingles appearing in more than this many
    docs are dropped before the self-join (None = exact). The uncapped
    form is quadratic in the posting length of the most frequent shingle
    (boilerplate text at corpus scale), so at 100 TB run this either on
    a SAMPLED corpus (it is a tuning/evaluation query, not a production
    dedup pass) or with a cap; the Jaccard is then computed over the
    capped shingle universe — identical to exact whenever no posting
    exceeds the cap (asserted on the test corpus in
    tests/test_r4_ops.py::test_ngram_jaccard_cap_noop_when_not_binding).

    Plan shape (r6): the BUCKET form, like minhash_lsh_pairs — postings
    aggregate to one sorted-id array per shingle and pairs explode
    bucket-locally, replacing the posting self-join. Same results, one
    fewer exchange (the cap filter and the pair fan-out read the same
    aggregated relation), measured ~30% faster at sf0.1; the cap is a
    filter on the bucket size instead of a pre-join semi join, and doc
    sizes re-derive from the capped buckets so capped semantics are
    unchanged."""
    sh = doc_shingles(df, key, text, n)
    buckets = sh.groupBy("shingle").agg(
        F.array_sort(F.collect_list(key)).alias("ids")
    )
    if max_posting is not None:
        buckets = buckets.filter(F.size("ids") <= max_posting)
    sizes = (
        buckets.select(F.explode("ids").alias(key))
        .groupBy(key)
        .agg(F.count(F.lit(1)).alias("sz"))
    )
    inter = (
        buckets.filter(F.size("ids") >= 2)
        .select(F.explode("ids").alias("doc_a"), "ids")
        .select("doc_a", F.explode("ids").alias("doc_b"))
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    sz_a = sizes.select(F.col(key).alias("doc_a"), F.col("sz").alias("sz_a"))
    sz_b = sizes.select(F.col(key).alias("doc_b"), F.col("sz").alias("sz_b"))
    jac = F.col("inter") / (F.col("sz_a") + F.col("sz_b") - F.col("inter"))
    return (
        inter.join(sz_a, "doc_a")
        .join(sz_b, "doc_b")
        .withColumn("jaccard", jac)
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", F.round("jaccard", 4).alias("jaccard"))
    )


def edit_distance_pairs(
    df: DataFrame,
    key: str,
    text: str = "text",
    block_cols: list[str] | None = None,
    length_bucket: int = 20,
    prefix_len: int = 60,
    max_distance: int = 40,
    length_col: str | None = None,
) -> DataFrame:
    """Near-dup pairs (a < b) by Levenshtein distance over a bounded prefix.

    Edit distance is O(prefix²) per pair, so the operator NEVER computes it
    all-pairs: candidates are blocked on ``block_cols`` plus a length bucket
    (same floor(len/length_bucket)), which bounds the self-join fan-out the
    same way the LSH band join does. Distance itself is Spark's built-in
    ``levenshtein`` — JVM-side, codegen'd, no Python. True edit-distance
    near-dups can straddle a bucket boundary (|len_a-len_b| < max_distance
    but different buckets); at scale run a second pass with the bucket
    offset by length_bucket/2 and union, the standard shift-block trick.
    """
    blocks = list(block_cols or [])
    length = (
        F.col(length_col) if length_col else F.length(F.col(text))
    )
    proj = df.select(
        F.col(key),
        F.substring(F.col(text), 1, prefix_len).alias("_prefix"),
        *[F.col(c) for c in blocks],
        F.floor(length / length_bucket).alias("_lb"),
    )
    a = proj.select(
        F.col(key).alias("doc_a"),
        F.col("_prefix").alias("_pa"),
        *[F.col(c).alias(f"_ba_{c}") for c in blocks],
        F.col("_lb").alias("_lba"),
    )
    b = proj.select(
        F.col(key).alias("doc_b"),
        F.col("_prefix").alias("_pb"),
        *[F.col(c).alias(f"_bb_{c}") for c in blocks],
        F.col("_lb").alias("_lbb"),
    )
    cond = (F.col("doc_a") < F.col("doc_b")) & (F.col("_lba") == F.col("_lbb"))
    for c in blocks:
        cond = cond & (F.col(f"_ba_{c}") == F.col(f"_bb_{c}"))
    return (
        a.join(b, cond)
        .withColumn("distance", F.levenshtein("_pa", "_pb"))
        .filter(F.col("distance") <= max_distance)
        .select("doc_a", "doc_b", "distance")
    )


def minhash_signatures(
    df: DataFrame, key: str, text: str = "text", num_hashes: int = 16, n: int = 3
) -> DataFrame:
    """(key, seed, minhash) — min over md5(seed|shingle) per seed. The md5
    hex string ordering IS the 128-bit value ordering, so `min(string)` is a
    valid min-hash and is identical in every engine."""
    sh = doc_shingles(df, key, text, n)
    seeds = F.explode(F.array(*[F.lit(i) for i in range(num_hashes)])).alias("seed")
    h = F.md5(F.concat(F.col("seed").cast("string"), F.lit("|"), F.col("shingle")))
    return (
        sh.select(F.col(key), "shingle", seeds)
        .groupBy(key, "seed")
        .agg(F.min(h).alias("mh"))
    )


def minhash_vector(
    df: DataFrame,
    key: str,
    text: str = "text",
    num_hashes: int = 16,
    n: int = 3,
) -> DataFrame:
    """(key, mhs): the full ordered minhash signature as ONE array row —
    mhs[s] = min over shingles of md5(s|shingle), computed row-locally.

    One Arrow batch in, one row per doc out — no explode, no shuffle.
    hashlib.md5 == Spark md5 == DuckDB md5 byte-for-byte, and min() over
    hex strings is the same lexicographic min in all three. Banding /
    prefix-slicing happens downstream as JVM expressions, so one kernel
    pass can serve several signature lengths (any num_hashes' signature
    is a prefix of a longer one over the same seed family)."""
    key_type = df.schema[key].dataType.simpleString()
    toks = _spread(
        df.select(F.col(key), tokens_expr(text).alias("toks")).filter(
            F.size("toks") >= n
        )
    )

    def compute(batches: Iterator) -> Iterator:
        import pandas as pd

        prefixes = [f"{seed}|".encode() for seed in range(num_hashes)]
        md5 = hashlib.md5
        # shingle -> per-seed digests, shared across docs in this task
        # (near-dup corpora repeat shingles heavily; md5 is a pure
        # function of its input, so this is per-task transient memo, not
        # result caching). min over raw digests == min over hex strings
        # (hex is monotone in the bytes), so hex-encode only the winners.
        digests: dict = {}
        for pdf in batches:
            out_key, out_mhs = [], []
            for k_val, arr in zip(pdf[key], pdf["toks"]):
                t = list(arr)
                sh = {
                    " ".join(t[i : i + n]).encode()
                    for i in range(len(t) - n + 1)
                }
                per_doc = []
                for s in sh:
                    d = digests.get(s)
                    if d is None:
                        d = [md5(pre + s).digest() for pre in prefixes]
                        if len(digests) > 1_000_000:
                            digests.clear()
                        digests[s] = d
                    per_doc.append(d)
                out_key.append(k_val)
                out_mhs.append(
                    [
                        min(d[i] for d in per_doc).hex()
                        for i in range(num_hashes)
                    ]
                )
            yield pd.DataFrame({key: out_key, "mhs": out_mhs})

    return toks.mapInPandas(
        compute, f"{key} {key_type}, mhs array<string>"
    )


def minhash_band_sigs(
    df: DataFrame,
    key: str,
    text: str = "text",
    num_hashes: int = 16,
    bands: int = 4,
    n: int = 3,
) -> DataFrame:
    """(key, band, sig): per-doc LSH band signatures — the
    :func:`minhash_vector` kernel plus a JVM-side band slicing, so the
    Python boundary carries ONE row per doc and the band fan-out happens
    as an expression. Band b's sig is mh[b·r..(b+1)·r) joined with ','
    — identical to the relational form (minhash_signatures → groupBy
    band → string_agg ORDER BY seed)."""
    rows_per_band = num_hashes // bands
    vec = minhash_vector(df, key, text, num_hashes, n)
    band_structs = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.array_join(
                    F.slice("mhs", b * rows_per_band + 1, rows_per_band),
                    ",",
                ).alias("sig"),
            )
            for b in range(bands)
        ]
    )
    return vec.select(F.col(key), F.explode(band_structs).alias("bs")).select(
        F.col(key), F.col("bs.band").alias("band"), F.col("bs.sig").alias("sig")
    )


def minhash_lsh_pairs(
    df: DataFrame,
    key: str,
    text: str = "text",
    num_hashes: int = 16,
    bands: int = 4,
    n: int = 3,
    max_bucket: int | None = None,
) -> DataFrame:
    """Candidate near-dup pairs: docs agreeing on all rows of >=1 band.
    bands * rows_per_band = num_hashes. Collision prob ≈ 1-(1-j^r)^b.

    Plan shape: map-only signature kernel, then ONE shuffle — groupBy
    (band, sig) into buckets, pairs exploded bucket-locally. (A self-join
    on (band, sig) is equivalent but executes the Python kernel once per
    join side — Spark can't dedupe identical PythonUDF subplans — so the
    bucket form halves the kernel work AND halves the shuffles.)

    ``max_bucket`` is the SKEW CAP — the knob that makes this survive a
    boilerplate-heavy corpus at 100 TB. A bucket of B identical-signature
    docs (legal disclaimers, templated pages) explodes to B(B-1)/2 pairs
    under all-pairs — quadratic in the hottest key, exactly where skew
    kills the stage. Buckets larger than the cap instead emit a CHAIN over
    their (sorted) ids — B-1 consecutive pairs: fan-out drops to linear,
    determinism holds under any partitioning, and connected-components
    clustering downstream is unchanged (the chain keeps the bucket one
    component). Per-pair recall inside oversized buckets is deliberately
    traded away — those pairs are boilerplate by construction. Buckets at
    or under the cap keep exact all-pairs semantics."""
    banded = minhash_band_sigs(df, key, text, num_hashes, bands, n)
    buckets = (
        banded.groupBy("band", "sig")
        .agg(F.array_sort(F.collect_list(key)).alias("ids"))
        .filter(F.size("ids") >= 2)
    )

    def all_pairs(b: DataFrame) -> DataFrame:
        return (
            b.select(F.explode("ids").alias("doc_a"), "ids")
            .select("doc_a", F.explode("ids").alias("doc_b"))
            .filter(F.col("doc_a") < F.col("doc_b"))
        )

    if max_bucket is None:
        return all_pairs(buckets).distinct()
    small = all_pairs(buckets.filter(F.size("ids") <= max_bucket))
    # consecutive-id chain: zip ids[0..B-2] with ids[1..B-1]
    chained = (
        buckets.filter(F.size("ids") > max_bucket)
        .select(
            F.explode(
                F.zip_with(
                    F.slice(F.col("ids"), 1, F.size("ids") - 1),
                    F.slice(F.col("ids"), 2, F.size("ids") - 1),
                    lambda a, b: F.struct(a.alias("doc_a"), b.alias("doc_b")),
                )
            ).alias("p")
        )
        .select("p.doc_a", "p.doc_b")
    )
    return small.unionByName(chained).distinct()


def lsh_pairs(df: DataFrame, key: str = "doc_id") -> DataFrame:
    """MinHash-LSH candidate pairs (doc_a < doc_b) at the default 16
    hashes in 4 bands — the one Spark definition of the LSH candidate
    graph the graph queries share. Its symmetric edge list is
    ``symmetric_edges(lsh_pairs(df))`` and the DuckDB twin is
    ``_lsh_pairs_cte`` in plans/dedup.py.

    Like :func:`keeper_pairs`, the pairs come back behind ONE lazy
    ``localCheckpoint``: the first action stores them as part of its
    own job and every later consumer reads the stored pairs, so
    callers add no checkpoint or cache of their own. A query that reads
    the pairs once calls :func:`minhash_lsh_pairs` instead: the
    checkpoint's ``LogicalRDD`` hides the bucket partitioning the next
    join would reuse, and it added jobs and shuffle bytes to
    dedup_band_sweep and dedup_lsh_recall (SCALE.md §7.1)."""
    return minhash_lsh_pairs(df, key).localCheckpoint(eager=False)


def _md5_val_factory(hex_chars: int):
    """Per-task memoized token → md5-derived uint mapper (guide §4.5:
    md5 is a pure function of the token text, so the memo is transient
    worker state, not result caching; the cap bounds worker memory on
    adversarial vocabularies)."""
    hash_vals: dict = {}

    def token_val(tok) -> int:
        v = hash_vals.get(tok)
        if v is None:
            v = int(hashlib.md5(tok.encode()).hexdigest()[:hex_chars], 16)
            if len(hash_vals) > 2_000_000:
                hash_vals.clear()
            hash_vals[tok] = v
        return v

    return token_val


def _simhash_batch(tok_lists, token_val, down_shifts, weights):
    """SimHash signatures (np.int64 array) for a batch of NON-EMPTY token
    lists: ONE np.unique over the batch's flattened tokens, bit rows
    gathered for batch-distinct tokens only, per-doc ±1 sums via a
    segment-sum (np.add.reduceat at doc offsets) — per-instance summing
    is identical to the count-weighted per-unique sum. The gather is
    processed in bounded-token chunks (and a count-weighted matmul for
    any single doc past the chunk size) so peak memory never reaches
    (batch tokens) × num_bits — the full per-instance bit matrix of the
    unchunked form (advisor r13)."""
    import numpy as np

    n = len(tok_lists)
    lens = np.fromiter((len(t) for t in tok_lists), dtype=np.int64, count=n)
    flat = np.concatenate([np.asarray(t, dtype=object) for t in tok_lists])
    uniq, inv = np.unique(flat, return_inverse=True)
    vals = np.fromiter(
        (token_val(t) for t in uniq), dtype=np.uint64, count=len(uniq)
    )
    # bits[u, j] = ±1 for unique token u, signature bit j — bounded by
    # batch-DISTINCT tokens, not instances
    bits = (
        ((vals[:, None] >> down_shifts[None, :]) & np.uint64(1)).astype(
            np.int64
        )
        * 2
        - 1
    )
    offsets = np.zeros(n + 1, dtype=np.int64)
    np.cumsum(lens, out=offsets[1:])
    sigs = np.empty(n, dtype=np.uint64)
    chunk_tokens = 1 << 18
    d = 0
    while d < n:
        if lens[d] > chunk_tokens:
            # single oversized doc: count-weighted unique-token matmul
            uu, cnt = np.unique(
                inv[offsets[d] : offsets[d + 1]], return_counts=True
            )
            sc = cnt @ bits[uu]
            sigs[d] = ((sc > 0).astype(np.uint64) * weights).sum()
            d += 1
            continue
        e = d
        while e < n and offsets[e + 1] - offsets[d] <= chunk_tokens:
            e += 1
        e = max(e, d + 1)
        lo = offsets[d]
        per_tok = bits[inv[lo : offsets[e]]]
        sc = np.add.reduceat(per_tok, offsets[d:e] - lo, axis=0)
        sigs[d:e] = ((sc > 0).astype(np.uint64) * weights[None, :]).sum(
            axis=1
        )
        d = e
    return sigs.astype(np.int64)


def simhash(df: DataFrame, key: str, text: str = "text", num_bits: int = 32) -> DataFrame:
    """(key, simhash): token-frequency-weighted bit-majority signature.

    Row-local numpy kernel (mapInPandas): per doc, for each distinct token,
    bits j=0..num_bits-1 of md5(token) taken hex-digit-MSB-first (bit j =
    bit (3 - j%4) of nibble j//4 = bit (num_bits-1-j) of the first
    num_bits/4 hex chars as an int); score_j = Σ cnt·(2·bit-1);
    sig = Σ 2^j·[score_j > 0]. Bit-identical to the relational md5-nibble
    formulation the DuckDB oracle runs (plans/dedup.py keeps the SQL
    adjacent), with zero shuffle instead of a |docs|·|tokens|·num_bits
    explode. Docs with no tokens are dropped (explode semantics)."""
    import numpy as np

    key_type = df.schema[key].dataType.simpleString()
    toks = _spread(
        df.select(F.col(key), tokens_expr(text).alias("toks")).filter(
            F.size("toks") > 0
        )
    )
    hex_chars = num_bits // 4
    down_shifts = np.arange(num_bits - 1, -1, -1, dtype=np.uint64)
    weights = 1 << np.arange(num_bits, dtype=np.uint64)

    def compute(batches: Iterator) -> Iterator:
        import pandas as pd

        token_val = _md5_val_factory(hex_chars)
        for pdf in batches:
            if len(pdf) == 0:
                yield pd.DataFrame({key: pdf[key], "simhash": pd.Series([], dtype="int64")})
                continue
            tok_lists = [list(arr) for arr in pdf["toks"]]
            sigs = _simhash_batch(tok_lists, token_val, down_shifts, weights)
            yield pd.DataFrame({key: pdf[key].values, "simhash": sigs})

    return toks.mapInPandas(compute, f"{key} {key_type}, simhash bigint")


def simhash_pairs(
    df: DataFrame,
    key: str,
    text: str = "text",
    max_hamming: int = 2,
    num_bits: int = 32,
) -> DataFrame:
    """Near-dup pairs by SimHash Hamming distance.

    Pigeonhole banding instead of the all-pairs cross join: split the
    signature into (max_hamming+1) bit-bands — any pair within max_hamming
    differing bits agrees exactly on ≥1 band — join per (band, band_bits),
    then verify the true Hamming distance. Output identical to all-pairs
    (and to the oracle's), but the join key prunes the quadratic space to
    hash-bucket collisions."""
    sigs = simhash(df, key, text, num_bits)
    return _pairs_from_sigs(sigs, key, max_hamming, num_bits)


def _pairs_from_sigs(
    sigs: DataFrame,
    key: str,
    max_hamming: int = 2,
    num_bits: int = 32,
) -> DataFrame:
    """Banding + bucket join + Hamming verify over an existing (key,
    simhash) relation — the JVM-only tail of :func:`simhash_pairs`,
    shared by :func:`_pairs_of_keepers` so a checkpointed signature
    frame can re-derive pairs without re-running the Python kernel."""
    n_bands = max_hamming + 1
    width = num_bits // n_bands
    band_structs = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.shiftright(F.col("simhash"), b * width)
                .bitwiseAND(
                    F.lit(
                        (1 << (num_bits - b * width)) - 1
                        if b == n_bands - 1
                        else (1 << width) - 1
                    ).cast("bigint")
                )
                .alias("bv"),
            )
            for b in range(n_bands)
        ]
    )
    banded = sigs.select(
        F.col(key), "simhash", F.explode(band_structs).alias("bs")
    ).select(F.col(key), "simhash", F.col("bs.band").alias("band"), F.col("bs.bv").alias("bv"))
    # bucket form (one kernel pass, one shuffle) — see minhash_lsh_pairs
    buckets = (
        banded.groupBy("band", "bv")
        .agg(F.collect_list(F.struct(F.col(key), F.col("simhash"))).alias("ms"))
        .filter(F.size("ms") >= 2)
    )
    return (
        buckets.select(F.explode("ms").alias("a"), "ms")
        .select("a", F.explode("ms").alias("b"))
        .filter(F.col("a")[key] < F.col("b")[key])
        .withColumn(
            "hamming",
            F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))),
        )
        .filter(F.col("hamming") <= max_hamming)
        .select(
            F.col("a")[key].alias("doc_a"),
            F.col("b")[key].alias("doc_b"),
            "hamming",
        )
        .distinct()
    )


def _uf_find(parent: dict, x):
    """Union-find root of ``x`` in ``parent``, with path compression."""
    root = x
    while parent[root] != root:
        root = parent[root]
    while parent[x] != root:
        parent[x], x = root, parent[x]
    return root


def _union_find_local(edges: DataFrame) -> DataFrame:
    """Single-task union-find (path compression + min-root union) over a
    coalesced edge list — the small-graph physical strategy of
    `connected_components`. Runs executor-side inside one `mapInPandas`
    partition; the driver never sees the edges. Output component = min
    member id, matching the distributed path exactly."""
    typ = edges.schema["u"].dataType.simpleString()

    def compute(batches: Iterator) -> Iterator:
        import pandas as pd

        parent: dict = {}

        for pdf in batches:
            for u, v in zip(pdf["u"], pdf["v"]):
                if u not in parent:
                    parent[u] = u
                if v not in parent:
                    parent[v] = v
                ru, rv = _uf_find(parent, u), _uf_find(parent, v)
                if ru != rv:
                    parent[max(ru, rv)] = min(ru, rv)
        nodes = list(parent)
        yield pd.DataFrame(
            {"doc_id": nodes, "component": [_uf_find(parent, n) for n in nodes]}
        )

    return edges.coalesce(1).mapInPandas(
        compute, f"doc_id {typ}, component {typ}"
    )


def connected_components(
    pairs: DataFrame,
    a: str = "doc_a",
    b: str = "doc_b",
    max_iter: int = 50,
    strategy: str = "auto",
    local_edge_threshold: int = 2_000_000,
) -> DataFrame:
    """(doc_id, component): connected components over near-dup pairs —
    component = min reachable doc id. This turns pairwise near-dup evidence
    (Jaccard / MinHash / SimHash / cosine pairs) into duplicate CLUSTERS,
    from which keeper selection is `doc_id == component`.

    Two physical strategies, picked by edge count (``strategy="auto"``),
    the same way AQE swaps a shuffle join for a broadcast join once the
    runtime size is known:

    - ``"local"`` (edge count below ``local_edge_threshold``): coalesce the
      deduped edge list into ONE task and run union-find with path
      compression there — a single linear pass, one job, no per-round
      scheduling. Near-dup edge sets are tiny relative to the corpus even
      at 100 TB (dedup rates of a few % over billions of docs → tens of
      millions of edges, still one-task territory at ~16 bytes/edge), so
      this is the common production path. The pass runs inside
      ``mapPartitions`` on an executor, not on the driver.
    - ``"distributed"``: iterative min-label propagation with pointer
      jumping — each round every node takes min(own label, neighbours'
      labels, label-of-its-label). The pointer-jump term squares the label
      chain each round, so convergence is O(log diameter) — the
      label-propagation half of the large-star/small-star family (Kiveris
      et al., "Connected Components in MapReduce"). Each round is two
      shuffle joins on node id. This is the path for edge sets that don't
      fit one task (e.g. clustering on aggressive thresholds).

    In the distributed path every round is `localCheckpoint`ed: iterative
    DataFrame algorithms MUST truncate lineage — persist() alone leaves the
    logical plan growing, and Catalyst re-analysis goes exponential within
    a few rounds (measured: round 5 = 240 s on a 348-edge graph without
    truncation, ~1 s with). The loop exits when a round changes no label
    (a `limit(1).count()` existence probe on the diff, not a full count)."""
    edges = (
        pairs.select(F.col(a).alias("u"), F.col(b).alias("v"))
        .unionByName(pairs.select(F.col(b).alias("u"), F.col(a).alias("v")))
        .distinct()
        .localCheckpoint(eager=False)
    )
    if strategy == "auto":
        strategy = (
            "local" if edges.limit(local_edge_threshold + 1).count() <= local_edge_threshold else "distributed"
        )
    if strategy == "local":
        return _union_find_local(edges)
    labels = (
        edges.select("u")
        .distinct()
        .withColumn("comp", F.col("u"))
        .localCheckpoint(eager=False)
    )
    for _ in range(max_iter):
        neigh = (
            edges.join(
                labels.select(F.col("u").alias("v"), F.col("comp").alias("vcomp")),
                "v",
            )
            .groupBy("u")
            .agg(F.min("vcomp").alias("ncomp"))
        )
        ptr = labels.select(F.col("u").alias("_pu"), F.col("comp").alias("pcomp"))
        new_comp = F.least(
            F.col("comp"),
            F.coalesce("ncomp", F.col("comp")),
            F.coalesce("pcomp", F.col("comp")),
        )
        # convergence flag rides along in the checkpointed row — probing it
        # is a cache-local filter, not another join job per round
        new_labels = (
            labels.join(neigh, "u", "left")
            .join(ptr, labels["comp"] == ptr["_pu"], "left")
            .select(
                "u",
                new_comp.alias("comp"),
                (new_comp != F.col("comp")).alias("chg"),
            )
            .localCheckpoint(eager=True)
        )
        changed = new_labels.filter("chg").limit(1).count()
        labels = new_labels.drop("chg")
        if changed == 0:
            break
    return labels.select(F.col("u").alias("doc_id"), F.col("comp").alias("component"))


def _bfs_depth_local(edges: DataFrame, cap: int) -> DataFrame:
    """Single-task multi-source BFS depth over a coalesced symmetric edge
    list — the small-graph physical strategy of :func:`component_depths`.
    Union-find (min-root union, identical to `_union_find_local`) finds
    each component's min member; one level-synchronous BFS from all mins
    at once yields every node's hop distance (mins live in distinct
    components, so frontiers never cross). Nodes further than ``cap``
    hops report ``cap + 1`` — exactly the fixpoint of the distributed
    ``cap``-round relaxation."""
    typ = edges.schema["u"].dataType.simpleString()

    def compute(batches: Iterator) -> Iterator:
        import pandas as pd

        adj: dict = {}
        parent: dict = {}

        for pdf in batches:
            for u, v in zip(pdf["u"], pdf["v"]):
                adj.setdefault(u, []).append(v)
                if u not in parent:
                    parent[u] = u
                if v not in parent:
                    parent[v] = v
                ru, rv = _uf_find(parent, u), _uf_find(parent, v)
                if ru != rv:
                    parent[max(ru, rv)] = min(ru, rv)
        # min-root union ⇒ every set's root IS its min member
        mins = {n for n in parent if _uf_find(parent, n) == n}
        depth = {m: 0 for m in mins}
        cur = mins
        d = 0
        while cur and d < cap:
            d += 1
            nxt = set()
            for u in cur:
                for v in adj.get(u, ()):
                    if v not in depth:
                        depth[v] = d
                        nxt.add(v)
            cur = nxt
        nodes = list(parent)
        yield pd.DataFrame(
            {
                "doc_id": nodes,
                "depth": [depth.get(n, cap + 1) for n in nodes],
            }
        )

    return edges.coalesce(1).mapInPandas(compute, f"doc_id {typ}, depth int")


def component_depths(
    pairs: DataFrame,
    a: str = "doc_a",
    b: str = "doc_b",
    cap: int = 8,
    strategy: str = "auto",
    local_edge_threshold: int = 2_000_000,
) -> DataFrame:
    """(doc_id, depth): every graph node's hop distance to its component
    min (the component id), capped — depth ``cap + 1`` means beyond-cap.
    The convergence-profile primitive of the components machinery: max
    depth bounds the pointer-jumping / label-propagation supersteps a
    distributed components job pays.

    Same two physical strategies as :func:`connected_components`, picked
    by the same edge-count probe: a single-task multi-source BFS kernel
    below ``local_edge_threshold`` (one linear pass, no per-round
    scheduling — near-dup edge sets are tiny relative to the corpus even
    at 100 TB), or ``cap`` rounds of src-keyed edge-join relaxation
    (each round one shuffle join + min-agg, frontier never collected)
    above it."""
    edges = (
        pairs.select(F.col(a).alias("u"), F.col(b).alias("v"))
        .unionByName(pairs.select(F.col(b).alias("u"), F.col(a).alias("v")))
        .localCheckpoint(eager=False)
    )
    if strategy == "auto":
        strategy = (
            "local"
            if edges.limit(local_edge_threshold + 1).count()
            <= local_edge_threshold
            else "distributed"
        )
    if strategy == "local":
        return _bfs_depth_local(edges, cap)
    comp = connected_components(pairs, a, b, strategy="distributed")
    dist = (
        comp.select(F.col("component").alias("node"))
        .distinct()
        .withColumn("dist", F.lit(0))
    )
    for _ in range(cap):
        hop = dist.join(edges, dist["node"] == edges["u"]).select(
            F.col("v").alias("node"), (F.col("dist") + 1).alias("dist")
        )
        dist = (
            dist.unionByName(hop)
            .groupBy("node")
            .agg(F.min("dist").alias("dist"))
            .localCheckpoint(eager=False)
        )
    return (
        comp.select(F.col("doc_id").alias("node"))
        .join(dist, "node", "left")
        .select(
            F.col("node").alias("doc_id"),
            F.coalesce("dist", F.lit(cap + 1)).cast("int").alias("depth"),
        )
    )


def _hop_counts_local(edges: DataFrame, max_hops: int) -> DataFrame:
    """Single-task per-node BFS hop counts over a coalesced symmetric
    edge list — the small-graph strategy of :func:`hop_counts`. For
    every node, n_k = number of nodes at hop distance exactly k
    (k = 1..max_hops)."""
    typ = edges.schema["u"].dataType.simpleString()
    cols = ", ".join(f"n{k} bigint" for k in range(1, max_hops + 1))

    def compute(batches: Iterator) -> Iterator:
        import pandas as pd

        adj: dict = {}
        for pdf in batches:
            for u, v in zip(pdf["u"], pdf["v"]):
                adj.setdefault(u, set()).add(v)
        out: dict = {f"n{k}": [] for k in range(1, max_hops + 1)}
        nodes = list(adj)
        for src in nodes:
            seen = {src}
            cur = {src}
            for k in range(1, max_hops + 1):
                nxt = set()
                for u in cur:
                    nxt |= adj.get(u, set())
                nxt -= seen
                out[f"n{k}"].append(len(nxt))
                seen |= nxt
                cur = nxt
        yield pd.DataFrame({"u": nodes, **out})

    return edges.coalesce(1).mapInPandas(compute, f"u {typ}, {cols}")


def hop_counts(
    edges: DataFrame,
    max_hops: int = 3,
    strategy: str = "auto",
    local_edge_threshold: int = 2_000_000,
) -> DataFrame:
    """(u, n1..n_max_hops): per-node counts of nodes at hop distance
    exactly k over a SYMMETRIC edge list — the truncated-centrality
    primitive (harmonic/closeness at bounded radius).

    Same two physical strategies as :func:`connected_components`, picked
    by the same edge-count probe: a single-task BFS kernel below
    ``local_edge_threshold``, or the frontier-join chain (distinct new
    frontier per hop, anti-joined against every earlier ring) above it."""
    if strategy == "auto":
        strategy = (
            "local"
            if edges.limit(local_edge_threshold + 1).count()
            <= local_edge_threshold
            else "distributed"
        )
    if strategy == "local":
        return _hop_counts_local(edges, max_hops)
    rings = [edges.select("u", "v").distinct().localCheckpoint(eager=False)]
    for _ in range(1, max_hops):
        prev = rings[-1]
        nxt = (
            prev.join(
                edges.select(
                    F.col("u").alias("_m"), F.col("v").alias("_w")
                ),
                prev["v"] == F.col("_m"),
            )
            .filter(F.col("u") != F.col("_w"))
            .select("u", F.col("_w").alias("v"))
            .distinct()
        )
        for ring in rings:
            nxt = nxt.join(
                ring.select(
                    F.col("u").alias("_au"), F.col("v").alias("_av")
                ),
                (F.col("u") == F.col("_au")) & (F.col("v") == F.col("_av")),
                "left_anti",
            )
        rings.append(nxt.localCheckpoint(eager=False))
    out = None
    for k, ring in enumerate(rings, start=1):
        cnt = ring.groupBy("u").agg(
            F.count(F.lit(1)).cast("bigint").alias(f"n{k}")
        )
        out = cnt if out is None else out.join(cnt, "u", "left")
    return out.select(
        "u",
        *[
            F.coalesce(F.col(f"n{k}"), F.lit(0))
            .cast("bigint")
            .alias(f"n{k}")
            for k in range(1, max_hops + 1)
        ],
    )


def semantic_dedup(
    df: DataFrame,
    centroids: list[tuple[int, list[float]]],
    key: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.4,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): embedding-space
    near-duplicate removal that restricts the pairwise search to k-means
    clusters. Rows land in a cell via the IVF coarse quantizer
    (`similarity.ivf_assign` — broadcast codebook, map-only); within each
    cell every pair's cosine is evaluated and a row whose similarity to a
    LOWER-keyed cell-mate meets ``threshold`` is marked a duplicate of the
    smallest such mate.

    Returns one row per input row: ``(key, cell, dup_of, is_dup)`` —
    ``dup_of`` is NULL for keepers, so survivorship is ``is_dup = false``.

    Scale shape: the whole point of SemDeDup is that pairwise cosine never
    crosses cluster boundaries — with k ∝ N/c cells the quadratic surface
    is O(N·c), not O(N²). Physically: one map-only assignment pass, ONE
    shuffle of (key, vec) on the cell id, then a per-cell `applyInPandas`
    kernel whose single numpy matmul scores every in-cell pair (the same
    vectorized-BLAS kernel as `similarity.cosine_near_dup_pairs`; the
    JVM-expression alternative evaluates an INTERPRETED zip_with/aggregate
    lambda per pair — measured 4× slower at 5k×64d). Parallelism equals
    the cell count — exactly the k ∝ N/c regime SemDeDup prescribes; a
    cell too large for one task is the skew case (SCALE.md §3.5): re-train
    with more cells or sub-block the cell like the blocked all-pairs
    operator. Only candidate pairs leave the kernel (loose pre-filter);
    the EXACT round-then-compare gate runs in Spark expressions so
    rounding semantics never drift from the oracle.

    Determinism / oracle portability: cosine is rounded to 9 digits before
    the threshold compare (cross-engine float drift absorbed, same
    contract as `similarity.cosine_topk`), and the keeper choice is
    min-key — the reference algorithm keeps the example farthest from the
    centroid; min-key is deterministic under any partitioning and
    engine-portable (deviation documented, matching A2's sorted-label
    precedent).
    """
    from jigsaw_spark.operators.similarity import ivf_assign

    cells = ivf_assign(df, centroids, id_col=key, vec_col=vec_col)
    e = df.select(key, vec_col).join(cells, key)

    def cell_pairs(pdf):
        import numpy as np
        import pandas as pd

        if len(pdf) < 2:
            return pd.DataFrame(
                {
                    "hi": pd.Series([], dtype="int64"),
                    "lo": pd.Series([], dtype="int64"),
                    "cos": pd.Series([], dtype="float64"),
                }
            )
        M = np.vstack(pdf[vec_col].to_numpy()).astype(np.float64)
        norms = np.linalg.norm(M, axis=1)
        sims = (M @ M.T) / np.outer(norms, norms)
        ids = pdf[key].to_numpy()
        keep = (ids[:, None] < ids[None, :]) & (sims >= threshold - 1e-9)
        qi, ci = np.nonzero(keep)
        return pd.DataFrame(
            {"hi": ids[ci], "lo": ids[qi], "cos": sims[qi, ci]}
        )

    cand = e.groupBy("cell").applyInPandas(
        cell_pairs, "hi bigint, lo bigint, cos double"
    )
    dup = (
        cand.filter(F.round("cos", 9) >= F.lit(threshold))
        .groupBy(F.col("hi").alias(key))
        .agg(F.min("lo").alias("dup_of"))
    )
    return cells.join(dup, key, "left").select(
        key,
        "cell",
        "dup_of",
        F.col("dup_of").isNotNull().alias("is_dup"),
    )


def dedup_lines(
    df: DataFrame,
    key: str,
    text: str = "text",
    sep: str = "\n",
    min_docs: int = 2,
) -> DataFrame:
    """C4-style repeated-line removal: drop every line that occurs (after
    trim-normalization) in ``min_docs`` or more *distinct* documents, then
    reassemble each document from its surviving lines in original order
    (C4 "three-sentence span" rule, line-granular variant; Raffel et al.
    2020 §2.2 — the reference has no corpus-global text op, this is part
    of the LLM-pipeline extension surface).

    Scale shape: posexplode (map-side, no shuffle) → ONE hash-agg on the
    line fingerprint (count-distinct docs collapses to count of a
    pre-deduped (fp, key) projection — two-phase, map-side combinable) →
    left-anti join on fp (shuffle on the same key the agg used, so AQE
    reuses the exchange) → ONE hash-agg by doc key to reassemble. Nothing
    is quadratic; the dup-line set is never collected driver-side.
    """
    # spread first: everything before the distinct (posexplode + trim +
    # md5) runs on the INPUT partitioning, and a single dense parquet
    # file arrives as one partition on a local read (the r6 perf class)
    df = _spread(df)
    lines = df.select(
        F.col(key),
        F.posexplode(F.split(F.col(text), F.lit(sep), -1)).alias("_idx", "_line"),
    ).withColumn("_fp", F.md5(F.trim(F.col("_line"))))
    dup_fps = (
        lines.select("_fp", key)
        .distinct()
        .groupBy("_fp")
        .agg(F.count(F.lit(1)).alias("_ndocs"))
        .filter(F.col("_ndocs") >= F.lit(min_docs))
        .select("_fp")
    )
    kept = lines.join(dup_fps, "_fp", "left_anti")
    return (
        kept.groupBy(key)
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("_idx", "_line"))),
                    lambda s: s["_line"],
                ),
                sep,
            ).alias("clean_text"),
            F.count(F.lit(1)).alias("n_lines_kept"),
        )
    )


def substring_window_stats(
    df: DataFrame,
    key: str,
    text: str = "text",
    window: int = 8,
) -> DataFrame:
    """Exact-substring duplication stats at token-window granularity — the
    distributed analog of suffix-array ExactSubstr dedup (Lee et al. 2022,
    "Deduplicating Training Data Makes Language Models Better"): a
    ``window``-token span appearing verbatim in >= 2 documents is a
    duplicated substring; per doc we report what fraction of its distinct
    windows are cross-document duplicates (the span-removal decision
    feeds on exactly this relation).

    Scale shape (the dedup_lines shape): ONE explode of sliding windows →
    distinct (doc, window-fingerprint) → ONE fp-keyed hash agg counting
    docs (map-side combinable) → fp-keyed join back (exchange reuse) →
    ONE doc-keyed agg. Windows shuffle as md5 fingerprints, never as
    strings; nothing quadratic, the duplicate span set is never
    collected. All outputs are integer counts + a ratio of two integers
    (engine-stable double).
    """
    from jigsaw_spark.operators.text import tokens_expr

    toks = df.select(
        F.col(key), tokens_expr(text).alias("_ws")
    ).filter(F.size("_ws") >= window)
    idx = F.sequence(F.lit(0), F.size("_ws") - window)
    win = F.array_join(
        F.slice(F.col("_ws"), F.col("_i") + 1, window), " "
    )
    wins = (
        toks.select(F.col(key), F.explode(idx).alias("_i"), "_ws")
        .select(F.col(key), F.md5(win).alias("fp"))
        .distinct()
    )
    dup = (
        wins.groupBy("fp")
        .agg(F.count(F.lit(1)).alias("_nd"))
        .filter(F.col("_nd") >= 2)
        .select("fp", F.lit(1).alias("_dup"))
    )
    return (
        wins.join(dup, "fp", "left")
        .groupBy(key)
        .agg(
            F.count(F.lit(1)).alias("n_windows"),
            F.sum(F.coalesce("_dup", F.lit(0))).cast("bigint").alias(
                "n_dup_windows"
            ),
            F.round(
                F.sum(F.coalesce("_dup", F.lit(0)))
                / F.count(F.lit(1)).cast("double"),
                4,
            ).alias("dup_ratio"),
        )
    )


def containment_pairs(
    df: DataFrame,
    key: str,
    text: str = "text",
    n: int = 3,
    threshold: float = 0.8,
    max_posting: int | None = 1000,
) -> DataFrame:
    """Pairs (a < b) with shingle-set OVERLAP COEFFICIENT
    |A∩B| / min(|A|,|B|) >= threshold — the asymmetric near-dup measure
    Jaccard misses: a short document wholly contained in a long one has
    low Jaccard but containment ~1 (quote farms, excerpt pages,
    append-only revisions).

    Same bounded inverted-index shape as :func:`ngram_jaccard_pairs`
    (capped postings by default — this is a pair-surfacing query, frequent
    boilerplate shingles carry no containment signal; same r6 bucket
    form, same capped-universe size semantics); the score is a
    ratio of exact integers, engine-stable."""
    sh = doc_shingles(df, key, text, n)
    buckets = sh.groupBy("shingle").agg(
        F.array_sort(F.collect_list(key)).alias("ids")
    )
    if max_posting is not None:
        buckets = buckets.filter(F.size("ids") <= max_posting)
    sizes = (
        buckets.select(F.explode("ids").alias(key))
        .groupBy(key)
        .agg(F.count(F.lit(1)).alias("sz"))
    )
    inter = (
        buckets.filter(F.size("ids") >= 2)
        .select(F.explode("ids").alias("doc_a"), "ids")
        .select("doc_a", F.explode("ids").alias("doc_b"))
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    sz_a = sizes.select(F.col(key).alias("doc_a"), F.col("sz").alias("sz_a"))
    sz_b = sizes.select(F.col(key).alias("doc_b"), F.col("sz").alias("sz_b"))
    ovl = F.col("inter") / F.least("sz_a", "sz_b").cast("double")
    return (
        inter.join(sz_a, "doc_a")
        .join(sz_b, "doc_b")
        .withColumn("overlap", ovl)
        .filter(F.col("overlap") >= threshold)
        .select("doc_a", "doc_b", F.round("overlap", 4).alias("overlap"))
    )


def near_dup_keepers(
    df: DataFrame,
    key: str,
    text: str = "text",
    max_hamming: int = 2,
) -> DataFrame:
    """(key, keeper): every row mapped to the min-id of its near-dup
    cluster (SimHash connected components; singletons keep themselves) —
    the doc→canonical mapping that leakage-safe splitting, SoftDeDup
    weighting, and cluster reporting all consume.

    C4-ordered (exact dedup BEFORE pair enumeration): byte-identical
    copies collapse to their fingerprint keeper first, so duplication can
    never densify the SimHash pair graph into x|copies|² cliques. The
    result is IDENTICAL to running the graph over all rows — exact dups
    share a signature, so every edge through a dup is mirrored through
    its keeper and component minima are unchanged (keeper = min id of
    its fingerprint group ≤ all group members by construction).

    Token-EMPTY docs (punctuation-only / blank) are excluded from the
    exact-dedup collapse and map to THEMSELVES: they all share the
    fingerprint md5('') but carry no signal, and the signature relation
    (like the certified SQL oracles) drops them — no edges, so each is
    its own singleton keeper, not one arbitrary-min cluster (r6
    advisor). The DuckDB twin is ``_keeper_cluster_cte`` in
    plans/dedup.py."""
    # ONE materialized pass: ek and the pair banding both reference the
    # narrow (key, keeper, is_dup, simhash) frame — Spark cannot dedupe
    # the two identical fp-window subtrees (r13, the keeper_frames
    # class), and the r14 frame keeps text out of the checkpoint
    # entirely. simhash IS NULL ⟺ token-empty (the kernel computes a
    # signature for every tokenful row), so the empty-doc carve-out
    # needs no second tokenization. The checkpoint is lazy: its first
    # reader, connected_components' edge count, fills it in its own job.
    frame = _keeper_sig_frame(df, key, text).localCheckpoint(eager=False)
    ek = frame.select(
        key,
        F.when(F.col("simhash").isNull(), F.col(key))
        .otherwise(F.col("keeper"))
        .alias("_ek"),
    )
    pairs = _pairs_of_keepers(frame, key, max_hamming)
    comp = connected_components(pairs).select(
        F.col("doc_id").alias("_ek"), F.col("component")
    )
    return ek.join(comp, "_ek", "left_outer").select(
        key, F.coalesce("component", F.col("_ek")).alias("keeper")
    )


def banded_pair_scores(
    df: DataFrame,
    key: str,
    text: str = "text",
    n: int = 3,
    threshold: float = 0.8,
    measure: str = "jaccard",
    num_hashes: int = 16,
    bands: int = 4,
    max_bucket: int | None = None,
) -> DataFrame:
    """Exact pair scores (Jaccard or overlap coefficient) enumerated ONLY
    inside MinHash-LSH buckets of exact-dedup keepers — the C4 ordering
    (exact dedup → banded LSH → pair scoring within bounded buckets) made
    an operator instead of a doc note.

    Why this is the scale-safe default (r5 verdict #4): the inverted-index
    self-join in :func:`ngram_jaccard_pairs` / :func:`containment_pairs`
    is quadratic in posting density — exact duplicates and boilerplate
    multiply every hot posting list, and a ×10 replication probe measured
    18.6× / 9.9× wall growth. Here the quadratic step never happens:

    1. **exact_dedup first** — byte-identical copies (the dominant
       duplication mode in web corpora) collapse to one keeper, so they
       can't densify postings or LSH buckets;
    2. **candidates from LSH bands** — one (band, sig) shuffle, bucket
       fan-out capped by ``max_bucket`` (chain fallback);
    3. **exact intersection only per candidate pair** — candidates join
       back to the shingle relation keyed on (doc, shingle): work is
       Σ_pairs |shingles(a)|, linear in candidates, never all-pairs.

    Recall loss vs exact mode is the banding collision curve
    1-(1-j^r)^b: with the default 4 bands × 4 rows that is ≈ 0.88 at
    j = 0.8 (≥ 0.998 only from j ≈ 0.95 up) — ~12 % of true pairs right
    AT the 0.8 threshold are expected misses (r6 advisor corrected the
    earlier 0.998-at-0.8 claim). Raise ``num_hashes``/``bands`` (e.g.
    32 hashes × 8 bands × 4 rows ⇒ ≈ 0.985 at j = 0.8) when recall at
    the threshold matters more than the extra shuffle width; pairs
    involving non-keeper exact duplicates are represented by their
    keeper (score identical — duplicate shingle sets). The exact
    uncapped operators stay available for sampled tuning runs.
    """
    keep = (
        exact_dedup(df, key, text)
        .filter(~F.col("is_dup"))
        .select(key, text)
    )
    cand = minhash_lsh_pairs(
        keep, key, text, num_hashes, bands, n, max_bucket=max_bucket
    )
    sh = doc_shingles(keep, key, text, n)
    sizes = sh.groupBy(key).agg(F.count(F.lit(1)).alias("sz"))
    inter = (
        cand.join(sh.select(F.col(key).alias("doc_a"), "shingle"), "doc_a")
        .join(
            sh.select(F.col(key).alias("doc_b"), "shingle"),
            ["doc_b", "shingle"],
        )
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    sz_a = sizes.select(F.col(key).alias("doc_a"), F.col("sz").alias("sz_a"))
    sz_b = sizes.select(F.col(key).alias("doc_b"), F.col("sz").alias("sz_b"))
    if measure == "jaccard":
        score = F.col("inter") / (
            F.col("sz_a") + F.col("sz_b") - F.col("inter")
        )
        out = "jaccard"
    elif measure == "containment":
        score = F.col("inter") / F.least("sz_a", "sz_b").cast("double")
        out = "overlap"
    else:
        raise ValueError(f"unknown measure: {measure!r}")
    return (
        inter.join(sz_a, "doc_a")
        .join(sz_b, "doc_b")
        .withColumn(out, score)
        .filter(F.col(out) >= threshold)
        .select("doc_a", "doc_b", F.round(out, 4).alias(out))
    )
