"""Embedding similarity search: brute-force cosine top-k + SRP-LSH buckets.

Training-data-pipeline extensions (BASELINE.json north star) over an
``array<float>`` embedding column.

  - Brute force: broadcast the (small) query set against the corpus, cosine
    via zip_with/aggregate (JVM codegen, no UDF), window top-k per query.
    At 100 TB this is the exact-recall baseline; the scan is
    embarrassingly parallel and the only shuffle is the per-query top-k
    (tiny: k rows per partition per query after partial TakeOrdered).
  - SRP-LSH (signed random projections): 16 fixed hyperplanes -> 16-bit
    signature -> equal-signature bucket join. Hyperplanes are derived from
    md5 in *Python* at import time and inlined as literals into BOTH the
    Spark plan and the oracle SQL, so the pseudo-randomness is reproducible
    everywhere and costs nothing at runtime. The scale path: signatures
    partition the corpus so candidate generation is a bucket-local join
    instead of a cross join (same shape as an IVF coarse quantizer).

Ordering caveat: ranks are taken over cosine rounded to 9 decimals with the
candidate id as tiebreaker, so float reassociation noise (~1e-16) between
engines cannot flip the top-k boundary.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from jigsaw_spark.functions.vectors import cosine_similarity
from jigsaw_spark.operators.samples import exact_sample


def _to_double(col) -> F.Column:
    return F.transform(F.col(col) if isinstance(col, str) else col, lambda x: x.cast("double"))


def _free_local_checkpoint(df: DataFrame) -> None:
    """Actually release a localCheckpoint'ed DataFrame's storage blocks.

    ``Dataset.unpersist`` only clears cache-manager entries;
    ``localCheckpoint`` registers its blocks on the *internal* RDD held by
    the LogicalRDD plan node, so the public API leaves them pinned until
    ContextCleaner GC (r8 advisor finding). Reach the checkpointed RDD
    through the analyzed plan and unpersist it directly — verified on
    pyspark 4.1.2 to drop the block from ``getRDDStorageInfo``. Only call
    this once every downstream consumer of ``df`` has materialized: a
    locally-checkpointed RDD has no lineage to recompute from.
    Best-effort: if the private plan shape ever changes, fall back to the
    (lazy) ContextCleaner path rather than failing the query.
    """
    try:
        df._jdf.queryExecution().analyzed().rdd().unpersist(False)
    except Exception:  # pragma: no cover - private-API drift fallback
        df.unpersist()


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k neighbours per query vector (self-match excluded).

    Arrow-kernel candidate generation (verdict r9 #2, SCALE.md §6): the
    query panel — bounded by contract (a fixed eval set, 200 rows in the
    registry queries) — is collected once and shipped in the task
    closure; the corpus is scanned ONCE by a ``mapInPandas`` kernel that
    does one numpy matmul per Arrow batch and emits only each query's
    batch-local top-k candidates. The global round-9 rank window then
    sees ~k rows per query per batch instead of the full panel×corpus
    cross product, and the per-element cosines run vectorized in C
    instead of Catalyst-interpreted ``zip_with``/``aggregate`` HOFs.

    Exactness of the batch-local prune: candidates are kept when their
    RAW cosine reaches the batch's k-th best minus 1e-8. The global
    ordering key is (round(cos, 9) DESC, id ASC); if a row trails the
    batch's k-th raw cosine by more than 1e-8 > 2·(round-9 slop), then
    k rows of this batch beat it strictly on round-9, so it cannot be
    in the global top-k — the union of batch-local keeps is therefore a
    superset of the global top-k for ANY batch split (AQE/partitioning
    proof). The final window then reproduces the interpreted plan's
    ordering exactly under the round-9 tie key for non-straddling
    cosines: the kernel's numpy pairwise-summed dot products can differ
    from Catalyst ``zip_with``/``aggregate`` sums at ulp level, so a
    cosine sitting EXACTLY on a round-9 boundary could round differently
    between engines (advisor r10 #3 — never observed on the registry
    data; the 1e-8 superset proof covers batch-split invariance, not
    engine-sum-order equality).

    Contract (advisor r10 #1; all explicit, each previously implicit):

    - ``id_col`` must be bigint-castable on BOTH sides. A panel id that
      casts to NULL raises ``ValueError`` here; corpus ids are cast the
      same way and a NULL id row is excluded (it could never be ranked
      deterministically).
    - The panel is collected eagerly at construction time (it is a
      bounded eval set by contract — 200 rows in the registry queries).
      An EMPTY panel returns an empty, correctly-typed result lazily —
      matching the pre-round-10 Catalyst plan — instead of raising.
    - A NULL panel embedding raises ``ValueError`` (a null eval vector
      is a data bug, not a rankable query); NULL corpus embeddings are
      excluded by a pushed-down filter.
    - Zero-norm vectors have no defined cosine: such corpus rows are
      EXCLUDED from candidacy, and a zero-norm panel vector yields no
      output rows for that query. The old interpreted plan ranked those
      NaN cosines FIRST (Spark treats NaN as greatest under DESC); that
      ordering was an artifact, not a semantic, and the kernel makes
      the exclusion deliberate. Registry tables contain neither nulls
      nor zero vectors, so certified results are unchanged.
    """
    import numpy as np

    out_schema = "query_id bigint, vec_id bigint, cos double"
    rows = queries.select(
        F.col(id_col).cast("bigint").alias("qid"),
        _to_double(vec_col).alias("qv"),
    ).collect()
    if not rows:
        # lazy empty result with the final schema (pre-r10 behavior)
        return (
            corpus.sparkSession.createDataFrame([], out_schema)
            .select(
                "query_id",
                "vec_id",
                F.round("cos", 4).alias("cosine"),
                F.lit(1).alias("rank"),
            )
        )
    if any(r["qid"] is None for r in rows):
        raise ValueError(
            "cosine_topk: panel ids must be bigint-castable and non-null"
        )
    if any(r["qv"] is None or any(x is None for x in r["qv"]) for r in rows):
        raise ValueError("cosine_topk: panel embeddings must be non-null")

    qids = np.array([r["qid"] for r in rows], dtype=np.int64)
    Q = np.array([r["qv"] for r in rows], dtype=np.float64)
    Qn = np.linalg.norm(Q, axis=1)

    def kernel(batches):
        import pandas as pd

        for pdf in batches:
            if pdf.empty:
                continue
            ids = pdf[id_col].to_numpy(dtype=np.int64)
            # float32 -> float64 widening here is exact, identical to a
            # Catalyst element cast but vectorized (same as the documented
            # kernel-side cast in cosine_near_dup_pairs)
            M = np.vstack(pdf[vec_col].to_numpy()).astype(np.float64)
            with np.errstate(invalid="ignore", divide="ignore"):
                sims = (Q @ M.T) / np.outer(Qn, np.linalg.norm(M, axis=1))
            # zero-norm on either side -> NaN cosine -> excluded (see
            # docstring contract); NaN compares False below so the keep
            # mask drops it without a branch
            self_mask = qids[:, None] == ids[None, :]
            sims[self_mask] = -np.inf
            # neutralize NaNs BEFORE the kth-partition: numpy sorts NaN
            # as greatest, so >= k zero-norm rows in one batch would make
            # kth itself NaN and silently drop every VALID candidate
            nan_mask = np.isnan(sims)
            sims[nan_mask] = -np.inf
            n = sims.shape[1]
            if n > k:
                kth = np.partition(sims, n - k, axis=1)[:, n - k]
                keep = sims >= (kth - 1e-8)[:, None]
            else:
                keep = np.ones_like(sims, dtype=bool)
            keep &= ~self_mask & ~nan_mask
            qi, ci = np.nonzero(keep)
            yield pd.DataFrame(
                {
                    "query_id": qids[qi],
                    "vec_id": ids[ci],
                    "cos": sims[qi, ci],
                }
            )

    cand = (
        corpus.select(F.col(id_col).cast("bigint").alias(id_col), vec_col)
        # contract: NULL ids / NULL embeddings are not rankable — exclude
        # them at the scan (pushed-down filter) instead of crashing the
        # kernel's int64/vstack conversions
        .filter(F.col(id_col).isNotNull() & F.col(vec_col).isNotNull())
        .mapInPandas(kernel, out_schema)
    )
    w = Window.partitionBy("query_id").orderBy(
        F.round("cos", 9).desc(), F.col("vec_id")
    )
    return (
        cand.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select(
            "query_id",
            "vec_id",
            F.round("cos", 4).alias("cosine"),
            F.col("rn").alias("rank"),
        )
    )


def cosine_near_dup_pairs(
    df: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    num_blocks: int = 8,
) -> DataFrame:
    """All pairs (a < b) with cosine >= threshold — blocked all-pairs.

    Physical plan: assign each vector to one of B blocks (id % B); every
    unordered block pair (i <= j) becomes one `applyInPandas` group whose
    kernel does a single numpy matmul over its two sub-matrices. Each row
    is replicated B+1 times (once per group it participates in), so memory
    is O(N·(B+1)) while compute parallelism is B(B+1)/2 independent tasks —
    the standard distributed all-pairs decomposition. At cluster scale,
    pick B ≈ sqrt(2·cores) so every core gets a block pair; beyond that,
    pre-bucket by SRP signature (below) to prune the quadratic space.

    Exact same output as the naive crossJoin (the DuckDB oracle's form):
    filter on round(cos, 9) >= threshold, emit round(cos, 4)."""
    B = num_blocks
    # no _to_double here: the float→double cast happens vectorized in numpy
    # inside the kernel, not via an interpreted HOF over every element
    base = df.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).alias("v"),
        F.pmod(F.col(id_col), F.lit(B)).cast("int").alias("blk"),
    )
    left = base.withColumn(
        "bj", F.explode(F.sequence(F.col("blk"), F.lit(B - 1)))
    ).select(F.col("blk").alias("bi"), "bj", "id", "v", F.lit(0).alias("role"))
    right = base.withColumn(
        "bi", F.explode(F.sequence(F.lit(0), F.col("blk")))
    ).select("bi", F.col("blk").alias("bj"), "id", "v", F.lit(1).alias("role"))

    def block_pairs(pkey, pdf):
        import numpy as np
        import pandas as pd

        i, j = pkey
        q = pdf[pdf["role"] == 0]
        c = pdf[pdf["role"] == 1]
        empty = pd.DataFrame(
            {
                "id_a": pd.Series([], dtype="int64"),
                "id_b": pd.Series([], dtype="int64"),
                "cos": pd.Series([], dtype="float64"),
            }
        )
        if q.empty or c.empty:
            return empty
        Q = np.vstack(q["v"].to_numpy()).astype(np.float64)
        C = np.vstack(c["v"].to_numpy()).astype(np.float64)
        sims = (Q @ C.T) / np.outer(
            np.linalg.norm(Q, axis=1), np.linalg.norm(C, axis=1)
        )
        qid = q["id"].to_numpy()
        cid = c["id"].to_numpy()
        if i == j:
            keep = qid[:, None] < cid[None, :]
        else:
            keep = np.ones_like(sims, dtype=bool)
        # loose pre-filter; the exact round-then-compare gate runs in Spark
        # expressions below so rounding semantics (HALF_UP) never drift
        keep &= sims >= threshold - 1e-9
        qi, ci = np.nonzero(keep)
        ia, ib = qid[qi], cid[ci]
        return pd.DataFrame(
            {
                "id_a": np.minimum(ia, ib),
                "id_b": np.maximum(ia, ib),
                "cos": sims[qi, ci],
            }
        )

    return (
        left.unionByName(right)
        .groupBy("bi", "bj")
        .applyInPandas(block_pairs, "id_a bigint, id_b bigint, cos double")
        .filter(F.round("cos", 9) >= threshold)
        .select("id_a", "id_b", F.round("cos", 4).alias("cosine"))
    )


# -- IVF (coarse quantizer) ---------------------------------------------------


def ivf_assign(
    df: DataFrame,
    centroids: list[tuple[int, list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id, cell): assign every vector to its nearest centroid by cosine —
    the coarse-quantizer step of an IVF index. ``centroids`` is the tiny
    driver-held codebook (here: seed vectors; at scale: k-means centers) —
    it ships to executors inside the UDF closure, the classic broadcast
    pattern. Map-only, no shuffle; downstream ANN probes only the rows of
    the query's cell(s) instead of the full corpus.

    Tie-break: scores rounded to 9 decimals, lowest centroid id wins —
    mirrored exactly by the oracle's row_number ORDER BY."""
    import numpy as np
    import pandas as pd

    cents = sorted(centroids)
    cids = np.array([c for c, _ in cents], dtype=np.int64)
    C = np.array([v for _, v in cents], dtype=np.float64)
    Cn = np.linalg.norm(C, axis=1)

    def assign(v):
        if v.empty:
            return pd.Series([], dtype="int64")
        M = np.vstack(v.to_numpy()).astype(np.float64)
        S = (M @ C.T) / np.outer(np.linalg.norm(M, axis=1), Cn)
        # argmax over round-9 scores; ties -> first (= lowest cid, sorted)
        return pd.Series(cids[np.argmax(np.round(S, 9), axis=1)])

    from pyspark.sql.functions import PandasUDFType

    assign_udf = F.pandas_udf(assign, "bigint", PandasUDFType.SCALAR)
    return df.select(
        F.col(id_col), assign_udf(F.col(vec_col)).alias("cell")
    )


def _ivf_scored_candidates(
    corpus: DataFrame,
    queries: DataFrame,
    centroids: list[tuple[int, list[float]]],
    nprobe: int,
    id_col: str,
    vec_col: str,
    keep_probe_rank: bool = False,
) -> DataFrame:
    """Shared IVF prelude of :func:`ivf_topk` and :func:`ivf_range_search`
    (advisor r9 #2): corpus→cell assignment (map-only matmul kernel),
    query→probe list (broadcast cross-join against the tiny codebook,
    round-9 + cid tie order), one cell equi-join with the probed-query
    side broadcast, self-matches excluded, candidate cosine attached.
    Only the tail differs between the two APIs (rank window vs
    threshold predicate)."""
    spark = corpus.sparkSession
    cent_df = spark.createDataFrame(
        [(c, [float(x) for x in v]) for c, v in centroids],
        "cid bigint, cvec array<double>",
    )
    assigned = ivf_assign(corpus, centroids, id_col, vec_col).join(
        corpus.select(F.col(id_col), _to_double(vec_col).alias("cv")), id_col
    )
    q = queries.select(
        F.col(id_col).alias("query_id"), _to_double(vec_col).alias("qv")
    )
    probe_w = Window.partitionBy("query_id").orderBy(
        F.round("qc_cos", 9).desc(), F.col("cid")
    )
    extra = ["probe_rank"] if keep_probe_rank else []
    probes = (
        q.crossJoin(F.broadcast(cent_df))
        .withColumn("qc_cos", cosine_similarity("qv", "cvec"))
        .withColumn("probe_rank", F.row_number().over(probe_w))
        .filter(F.col("probe_rank") <= nprobe)
        .select("query_id", "qv", F.col("cid").alias("cell"), *extra)
    )
    return (
        F.broadcast(probes)
        .join(assigned, "cell")
        .filter(F.col("query_id") != F.col(id_col))
        .withColumn("cos", cosine_similarity("qv", "cv"))
    )


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    centroids: list[tuple[int, list[float]]],
    k: int = 10,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF search: probe the ``nprobe`` nearest cells per query, then exact
    cosine top-k among ONLY the vectors assigned to those cells — the scale
    path that replaces the full-corpus scan of :func:`cosine_topk`.

    Plan shape: corpus→cell assignment is the map-only matmul kernel
    (:func:`ivf_assign`, no shuffle); query→probe list is a broadcast
    cross-join against the tiny codebook; candidate generation is an
    equi-join on ``cell`` with the (small) probed-query side broadcast, so
    the corpus is scanned once and never shuffled. At 1000 executors the
    per-cell candidate lists are the unit of parallelism; recall follows
    the IVF tradeoff (k-NN outside probed cells are missed) and is fully
    deterministic, so the oracle replicates it exactly.

    Tie-breaks mirror the whole family: round-9 scores, lowest id wins."""
    scored = _ivf_scored_candidates(
        corpus, queries, centroids, nprobe, id_col, vec_col
    )
    w = Window.partitionBy("query_id").orderBy(
        F.round("cos", 9).desc(), F.col(id_col)
    )
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select(
            "query_id",
            id_col,
            F.round("cos", 4).alias("cosine"),
            F.col("rn").alias("rank"),
        )
    )


def ivf_range_search(
    corpus: DataFrame,
    queries: DataFrame,
    centroids: list[tuple[int, list[float]]],
    threshold: float,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Range (threshold) search: all vectors in the query's ``nprobe``
    probed IVF cells with round-9 cosine >= ``threshold`` — the OTHER
    fundamental ANN API next to top-k (:func:`ivf_topk` answers "the k
    nearest", this answers "everything at least this similar": duplicate
    sweeps, safety radius checks, near-neighbor joins with a score
    floor). Returns (query_id, id, cosine round-4).

    Plan shape is :func:`ivf_topk`'s verbatim — map-only cell assignment,
    broadcast codebook probe, one cell equi-join, corpus scanned once and
    never shuffled — but with NO per-query window at all: the threshold
    filter is a map-side predicate, so range search is strictly cheaper
    than top-k at scale (no rank shuffle, no per-partition sort). Recall
    follows the IVF tradeoff (matches outside probed cells are missed)
    and is fully deterministic, so an oracle replicates it exactly."""
    return (
        _ivf_scored_candidates(
            corpus, queries, centroids, nprobe, id_col, vec_col
        )
        .filter(F.round("cos", 9) >= threshold)
        .select(
            "query_id",
            id_col,
            F.round("cos", 4).alias("cosine"),
        )
    )


# -- SRP-LSH -----------------------------------------------------------------


def srp_planes(num_planes: int = 16, dim: int = 64) -> list[list[float]]:
    """Deterministic pseudo-random hyperplanes in [-1, 1): component (i, d)
    = (int(md5('srp|i|d')[:8], 16) % 10000) / 5000 - 1. Computed once in
    Python; inlined as literals in both engines."""
    planes = []
    for i in range(num_planes):
        row = []
        for d in range(dim):
            h = hashlib.md5(f"srp|{i}|{d}".encode()).hexdigest()
            row.append((int(h[:8], 16) % 10000) / 5000.0 - 1.0)
        planes.append(row)
    return planes


def srp_signature_expr(vec_col, planes: list[list[float]]) -> F.Column:
    """Signature = Σ_i 2^i · [round(v·pᵢ, 6) > 0]."""
    v = _to_double(vec_col)
    sig = F.lit(0).cast("bigint")
    for i, plane in enumerate(planes):
        p = F.array(*[F.lit(x) for x in plane])
        dot = F.aggregate(
            F.zip_with(v, p, lambda a, b: a * b), F.lit(0.0), lambda acc, x: acc + x
        )
        bit = (F.round(dot, 6) > 0).cast("bigint")
        sig = sig + bit * F.lit(1 << i).cast("bigint")
    return sig


def srp_signature_sql(vec_sql: str, planes: list[list[float]]) -> str:
    """DuckDB rendering of :func:`srp_signature_expr` with the same inlined
    plane literals."""
    terms = []
    for i, plane in enumerate(planes):
        lits = ", ".join(repr(x) for x in plane)
        terms.append(
            f"(CASE WHEN round(list_dot_product({vec_sql}, [{lits}]), 6) > 0 "
            f"THEN {1 << i}::BIGINT ELSE 0::BIGINT END)"
        )
    return "(" + " + ".join(terms) + ")"


def srp_signature_udf(planes: list[list[float]]):
    """Vectorized form of :func:`srp_signature_expr`: one numpy matmul per
    Arrow batch (N×dim @ dim×k) instead of k interpreted zip_with/aggregate
    chains per row. Same signature values — the oracle SQL is unchanged."""
    import numpy as np
    import pandas as pd

    P = np.array(planes, dtype=np.float64).T  # dim × k
    W = (1 << np.arange(len(planes))).astype(np.int64)

    def sig(v):
        if v.empty:
            return pd.Series([], dtype="int64")
        M = np.vstack(v.to_numpy()).astype(np.float64)  # n × dim
        D = np.round(M @ P, 6)
        return pd.Series(((D > 0) * W).sum(axis=1).astype(np.int64))

    # explicit returnType + functionType (hint-free form: the factory's
    # local imports aren't visible to pyspark's annotation resolver)
    from pyspark.sql.functions import PandasUDFType

    return F.pandas_udf(sig, "bigint", PandasUDFType.SCALAR)


def srp_buckets(
    df: DataFrame,
    num_planes: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id, signature): the LSH bucketing relation — group/join on
    `sig` to get candidate sets. Map-only (no shuffle); the signature
    kernel is a single matmul per Arrow batch."""
    planes = srp_planes(num_planes, dim=64)
    return df.select(
        F.col(id_col),
        srp_signature_udf(planes)(F.col(vec_col)).alias("sig"),
    )


def kmeans_lloyd(
    df: DataFrame,
    k: int = 8,
    iters: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> tuple[DataFrame, list[tuple[int, list[float]]]]:
    """Spherical k-means (Lloyd) over an embedding column — the trainer
    that produces the IVF coarse-quantizer codebook `ivf_assign`/`ivf_topk`
    consume. Returns (assignment DataFrame, trained centroids).

    Scale shape per iteration: one map-only cosine assignment (codebook in
    the UDF closure — broadcast), then one (cell, dim) hash aggregate for
    the new means. The codebook is k×dim floats (KBs) — collecting it to
    the driver between iterations is the standard pattern; the corpus
    itself never leaves executors and is re-scanned, not cached, so the
    loop holds no lineage (each iteration's plan starts from the parquet
    scan, sidestepping iterative-lineage blowup entirely).

    Determinism: seeds are the first k vectors in md5(id) order, and
    assignment tie-breaks round-9 toward the lowest cell id (same contract
    as ivf_assign). The centroid update is F.avg over doubles, whose
    partial-sum merge order varies with partitioning/AQE — the round-9
    tie-break absorbs almost all of that drift, so the codebook is
    bit-exact only under a fixed partitioning; assignments near an exact
    cosine tie can differ across cluster layouts. Note the returned
    ``assigned`` frame reflects the PENULTIMATE codebook (Lloyd assigns,
    then updates means once more before returning).
    """
    seeds = exact_sample(df.select(id_col, vec_col), k, [id_col], seed="kmeans-init").collect()
    centroids = [(i, list(map(float, r[vec_col]))) for i, r in enumerate(seeds)]
    assigned = None
    for _ in range(iters):
        assigned = ivf_assign(df, centroids, id_col=id_col, vec_col=vec_col)
        means = (
            assigned.join(df.select(id_col, vec_col), id_col)
            .select("cell", F.posexplode(_to_double(F.col(vec_col))))
            .groupBy("cell", "pos")
            .agg(F.avg("col").alias("m"))
            .groupBy("cell")
            .agg(F.array_sort(F.collect_list(F.struct("pos", "m"))).alias("pm"))
            .select("cell", F.col("pm.m").alias("centroid"))
            .collect()
        )
        new = {r["cell"]: list(map(float, r["centroid"])) for r in means}
        # empty cells keep their previous centroid (standard Lloyd rule)
        centroids = [(c, new.get(c, v)) for c, v in centroids]
    return assigned, centroids


def pq_encode(
    df: DataFrame,
    m: int = 4,
    k: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> tuple[DataFrame, list[list[list[float]]]]:
    """Product quantization: split each vector into ``m`` subvectors and
    replace each with the id of its nearest sub-codebook centroid (L2) —
    a dim-D float vector compresses to ``m`` small ints. This is the
    memory side of IVF-PQ: at 100 TB the float embeddings dominate
    storage; PQ codes are ~(32·D)/(m·log2 k)× smaller and ANN distance
    becomes an m-term table lookup.

    Codebooks train like `kmeans_lloyd` seeds: the first ``k`` vectors in
    md5(id) order donate their subvectors (deterministic; production
    would run Lloyd per subspace the same way). Encoding is one map-only
    Arrow kernel — codebooks ride the UDF closure (broadcast), the corpus
    never shuffles. Returns (codes DataFrame, codebooks[m][k][dsub])."""
    import numpy as np
    import pandas as pd

    seeds = exact_sample(df.select(id_col, vec_col), k, [id_col], seed="pq-train").collect()
    S = np.array([r[vec_col] for r in seeds], dtype=np.float64)
    dim = S.shape[1]
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    dsub = dim // m
    books = [S[:, j * dsub : (j + 1) * dsub].copy() for j in range(m)]

    def encode(it):
        for pdf in it:
            M_ = np.vstack(pdf[vec_col].to_numpy()).astype(np.float64)
            codes = np.empty((len(pdf), m), dtype=np.int32)
            for j, B in enumerate(books):
                sub = M_[:, j * dsub : (j + 1) * dsub]
                # ||x-c||² argmin via the expanded form; ties -> lowest id
                d2 = (
                    (sub * sub).sum(1, keepdims=True)
                    - 2.0 * (sub @ B.T)
                    + (B * B).sum(1)
                )
                codes[:, j] = np.argmin(np.round(d2, 9), axis=1)
            yield pd.DataFrame(
                {id_col: pdf[id_col], "codes": list(codes.tolist())}
            )

    # output schema follows the caller's id column name AND type — a
    # string/int id must not be force-cast to long by a hardcoded schema
    id_type = df.schema[id_col].dataType.simpleString()
    out = df.select(id_col, vec_col).mapInPandas(
        encode, f"{id_col} {id_type}, codes array<int>"
    )
    return out, [b.tolist() for b in books]


def ivfpq_topk(
    corpus: DataFrame,
    queries: list[tuple[int, list[float]]],
    centroids: list[tuple[int, list[float]]],
    k: int = 10,
    nprobe: int = 2,
    m: int = 4,
    codes_k: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF-PQ search — the composition that actually runs at 100 TB:
    coarse-quantize the corpus into IVF cells, compress every vector to
    ``m`` PQ codes, and answer queries by scanning ONLY the probed cells'
    CODES with an asymmetric-distance (ADC) lookup table — the float
    embeddings are never read at query time.

    Memory math (why this matters): a 64-d float32 corpus is 256 B/vector;
    m=4, k=16 PQ codes are 4 B/vector — 64× smaller, so a 25 TB embedding
    column becomes a ~0.4 TB code table that fits hot storage.

    Plan shape: ONE map-only Arrow kernel assigns cells and emits PQ codes
    (centroids + sub-codebooks ride the closure — KB-scale); queries are a
    driver-held list (the online-search shape), so per-query ADC tables
    (m × codes_k floats) are precomputed driver-side and shipped in the
    scoring kernel's closure; the probed-cell filter prunes the code scan
    before scoring; top-k is TakeOrdered. Zero shuffles over the corpus.

    Deterministic: PQ codebooks/IVF seeds derive from md5-ordered rows
    (pq_encode / caller-provided centroids); ADC scores round-9 with
    lowest-id tie-break. Approximation (IVF recall × PQ distortion) is
    itself deterministic — verified against a numpy reference in tests."""
    import numpy as np

    cents = sorted(centroids)
    cids = np.array([c for c, _ in cents], dtype=np.int64)
    C = np.array([v for _, v in cents], dtype=np.float64)
    Cn = np.linalg.norm(C, axis=1)

    # train the PQ sub-codebooks exactly as pq_encode does (first codes_k
    # vectors in md5 order), but encode + cell-assign in ONE fused kernel
    # below — a separate pq_encode ⋈ ivf_assign join would shuffle the
    # corpus on id twice for data both kernels already hold row-locally
    seeds = exact_sample(corpus.select(id_col, vec_col), codes_k, [id_col], seed="pq-train").collect()
    S = np.array([r[vec_col] for r in seeds], dtype=np.float64)
    dim = S.shape[1]
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    dsub = dim // m
    B = [S[:, j * dsub : (j + 1) * dsub].copy() for j in range(m)]

    # per-query probe cells + ADC tables, computed driver-side (queries are
    # the small online side; the corpus side stays distributed)
    q_probe: dict[int, set[int]] = {}
    q_tables: dict[int, np.ndarray] = {}
    for qid, qv in queries:
        qa = np.asarray(qv, dtype=np.float64)
        cos = (C @ qa) / (Cn * np.linalg.norm(qa) + 1e-300)
        order = np.lexsort((cids, -np.round(cos, 9)))
        q_probe[int(qid)] = {int(cids[i]) for i in order[:nprobe]}
        t = np.empty((m, codes_k), dtype=np.float64)
        for j in range(m):
            diff = B[j] - qa[j * dsub : (j + 1) * dsub]
            t[j] = (diff * diff).sum(axis=1)
        q_tables[int(qid)] = t

    def score(batches):
        import pandas as pd

        for pdf in batches:
            ids, qids, d2s = [], [], []
            M = np.vstack(pdf[vec_col].to_numpy()).astype(np.float64)
            # fused coarse assign (cosine argmax, round-9, lowest cid)
            cos = (M @ C.T) / np.outer(np.linalg.norm(M, axis=1), Cn)
            cell_arr = cids[np.argmax(np.round(cos, 9), axis=1)]
            # fused PQ encode (round-9 argmin L2 per subspace)
            code_arr = np.empty((len(pdf), m), dtype=np.int64)
            for j, Bj in enumerate(B):
                sub = M[:, j * dsub : (j + 1) * dsub]
                d2j = (
                    (sub * sub).sum(1, keepdims=True)
                    - 2.0 * (sub @ Bj.T)
                    + (Bj * Bj).sum(1)
                )
                code_arr[:, j] = np.argmin(np.round(d2j, 9), axis=1)
            id_arr = pdf[id_col].to_numpy()
            for qid, probe in q_probe.items():
                mask = np.isin(cell_arr, list(probe))
                if not mask.any():
                    continue
                sub = code_arr[mask]
                t = q_tables[qid]
                d2 = np.zeros(len(sub), dtype=np.float64)
                for j in range(m):
                    d2 += t[j][sub[:, j]]
                ids.extend(id_arr[mask].tolist())
                qids.extend([qid] * int(mask.sum()))
                d2s.extend(np.round(d2, 9).tolist())
            yield pd.DataFrame({"query_id": qids, id_col: ids, "adc_d2": d2s})

    id_type = corpus.schema[id_col].dataType.simpleString()
    scored = corpus.select(id_col, vec_col).mapInPandas(
        score, f"query_id long, {id_col} {id_type}, adc_d2 double"
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("adc_d2").asc(), F.col(id_col)
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", id_col, F.round("adc_d2", 4).alias("adc_d2"), "rank")
    )


def sq8_quantize(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    stats: list | None = None,
) -> DataFrame:
    """SQ8 scalar quantization: per-dimension [min,max] over the corpus →
    each component linearly mapped to an 8-bit code (the FAISS
    ``ScalarQuantizer QT_8bit`` layout — 4x smaller than float32, the
    standard memory-bound ANN compression step below PQ).

    Scale shape: ONE posexplode + (dim)-keyed hash agg (64 rows out,
    map-side combinable) collected driver-side (KB), then a map-only
    JVM ``transform`` — the corpus itself is never shuffled. Returns
    (id, codes array<int>, max_abs_err) where max_abs_err is the
    order-independent (max, not sum) reconstruction error, so the value
    is partition- and engine-stable.

    Cross-engine determinism: the ratio is rounded to 9 digits before the
    *255 scaling (codebase convention, see functions/hashing.py), and
    round-half-up on positive doubles agrees between Spark and DuckDB.

    ``stats``: optional pre-collected per-dimension rows with ``mn``/``mx``
    fields in dimension order (exactly what the internal collect yields) —
    callers that already ran the stats pass for their own reconstruction
    (ann_codec_recall) pass it in so the corpus is scanned once, not twice.
    """
    v = F.col(vec_col)
    if stats is None:
        stats = (
            df.select(F.posexplode(v.cast("array<double>")).alias("d", "x"))
            .groupBy("d")
            .agg(F.min("x").alias("mn"), F.max("x").alias("mx"))
            .orderBy("d")
            .collect()
        )
    mns = F.array(*[F.lit(r["mn"]) for r in stats])
    mxs = F.array(*[F.lit(r["mx"]) for r in stats])

    def _code(x, i):
        mn, mx = F.element_at(mns, i + 1), F.element_at(mxs, i + 1)
        ratio = F.when(mx > mn, F.round((x.cast("double") - mn) / (mx - mn), 9)).otherwise(
            F.lit(0.0)
        )
        return F.round(ratio * 255, 0).cast("int")

    def _recon(c, i):
        mn, mx = F.element_at(mns, i + 1), F.element_at(mxs, i + 1)
        return mn + c.cast("double") / 255 * (mx - mn)

    out = df.select(
        F.col(id_col),
        F.transform(v, _code).alias("codes"),
        v.cast("array<double>").alias("_v"),
    )
    err = F.array_max(
        F.zip_with(
            F.transform(F.col("codes"), _recon),
            F.col("_v"),
            lambda r, x: F.abs(r - x),
        )
    )
    return out.select(id_col, "codes", F.round(err, 9).alias("max_abs_err"))


def mmr_select(
    corpus: DataFrame,
    query_vec: list[float],
    k: int = 10,
    lam: float = 0.7,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Maximal Marginal Relevance (Carbonell & Goldstein 1998) greedy
    subset selection: iteratively pick
    argmax_d [ lam*cos(d, q) - (1-lam)*max_{s in S} cos(d, s) ] — the
    standard diversity-aware eval-set / demo-selection op.

    Scale shape: the max-similarity-to-S term is maintained as a RUNNING
    column — after each pick, ONE map-only pass folds the new pick in
    (``greatest(_msim, cos(v, s_new))``; the max over a growing set is
    the fold of its per-element maxes, so this is bit-identical to
    re-scoring against the whole set) and localCheckpoints, keeping
    lineage flat. Each round's plan therefore carries exactly ONE
    dim-sized literal (the newest pick) regardless of k — the r6 verdict
    flagged the previous form, which rebuilt a k×dim literal array every
    round, for codegen/plan growth at k ≫ 10 (same treatment
    kmeans_lloyd_exact got). k rounds => k columnar-local scans + top-1
    TakeOrdered each; the corpus never shuffles and nothing but one row
    per round is collected.

    Determinism: scores round to 9 digits with an id tiebreak (codebase
    convention), so selection is partition- and engine-independent. The
    first pick maximizes lam*rel alone (no similarity term yet — _msim
    starts 0.0 and the first fold REPLACES rather than maxes, because
    the certified oracle's greatest() has no zero floor and cosines can
    be negative). Returns (rank, id, relevance, mmr_score).
    """
    spark = corpus.sparkSession
    q = F.array(*[F.lit(float(x)) for x in query_vec])
    v = _to_double(vec_col)

    def _cos(a, b):
        dot = F.aggregate(
            F.zip_with(a, b, lambda x, y: x * y),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        na = F.sqrt(
            F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x * x)
        )
        nb = F.sqrt(
            F.aggregate(b, F.lit(0.0), lambda acc, x: acc + x * x)
        )
        return dot / (na * nb)

    base = (
        corpus.select(
            F.col(id_col), v.alias("_v"), F.round(_cos(v, q), 9).alias("_rel")
        )
        .withColumn("_msim", F.lit(0.0))
        .withColumn("_picked", F.lit(False))
        .localCheckpoint()
    )

    picks: list[tuple[int, object, float, float]] = []
    for rank in range(k):
        scored = base.filter(~F.col("_picked")).select(
            id_col,
            "_v",
            "_rel",
            # round(1-lam, 9): 1.0-0.7 is 0.30000000000000004 in IEEE — the
            # oracle renders the literal 0.3, so match it exactly
            F.round(
                F.lit(lam) * F.col("_rel")
                - F.lit(round(1.0 - lam, 9)) * F.col("_msim"),
                9,
            ).alias("_mmr"),
        )
        top = scored.orderBy(F.desc("_mmr"), F.col(id_col)).limit(1).collect()
        if not top:
            break
        r = top[0]
        picks.append((rank, r[id_col], float(r["_rel"]), float(r["_mmr"])))
        if rank == k - 1:
            break  # no one consumes a further _msim update
        s_new = F.array(*[F.lit(float(x)) for x in r["_v"]])
        sim_new = F.round(_cos(F.col("_v"), s_new), 9)
        prev = base  # free after the successor materializes: without
        # this, k-1 corpus-sized checkpoint copies pile up in executor
        # storage until ContextCleaner GC (a real leak at 100 TB scale)
        base = base.select(
            id_col,
            "_v",
            "_rel",
            (
                sim_new
                if rank == 0
                else F.greatest(F.col("_msim"), sim_new)
            ).alias("_msim"),
            (
                F.col("_picked") | (F.col(id_col) == F.lit(r[id_col]))
            ).alias("_picked"),
        ).localCheckpoint()
        _free_local_checkpoint(prev)
    _free_local_checkpoint(base)
    return spark.createDataFrame(
        picks, f"rank int, {id_col} {corpus.schema[id_col].dataType.simpleString()}, relevance double, mmr_score double"
    )


def kmeans_lloyd_exact(
    df: DataFrame,
    k: int = 8,
    iters: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    scale: int = 10**6,
) -> tuple[DataFrame, list[tuple[int, int, int]], dict[int, int]]:
    """Euclidean Lloyd k-means with the WHOLE trajectory in exact integer
    arithmetic — the third iterative operator with a replayable SQL
    oracle (after pagerank_exact and pca_pc1_exact).

    Coordinates quantize to ``scale`` micro-units once; each round the
    assignment minimizes the exact integer squared distance
    ``sum((xq - cq)^2)`` with (dist, cid) lexicographic tie-break, and
    the new centroids are ``tdiv(sum(xq), n)`` — truncated division, so
    centroids stay integers and the next round's distances stay exact.
    No float enters the loop anywhere, hence bit-identical assignments
    and codebooks across engines, partitionings, and retries (the float
    ``kmeans_lloyd`` is bit-exact only under a fixed partitioning — its
    docstring says so).

    Scale shape: the quantized corpus localCheckpoints ONCE (iters+1
    logical passes collapse onto one materialized scan, lineage stays
    flat); per round, a map-only Arrow argmin kernel with the (k x dim)
    integer codebook riding in the task closure — zero shuffle — then
    ONE (cid, dim) hash agg, map-side combined to k*d partials, sums
    carried in decimal(38,0) so 1e9-row clusters cannot wrap. The JVM
    plan is identical every round (only the kernel closure changes), so
    codegen compiles once for the whole trajectory. Seeds are the
    first k ids in md5 order (engine-portable, partition-independent).
    Empty clusters keep their previous centroid.

    Returns (final assignment DataFrame, centroid triples
    (cid, dim, c_micro), cluster sizes {cid: n}).
    """
    from jigsaw_spark.operators.ml import _tdiv

    xq_arr = F.transform(
        F.col(vec_col).cast("array<double>"),
        lambda x: F.round(x * scale).cast("long"),
    )
    # localCheckpoint the quantized base ONCE: every Lloyd round (and the
    # final assignment the caller evaluates) scans materialized integer
    # rows instead of re-running parquet scan + quantization through a
    # growing analysis chain — iters+1 passes collapse to one real scan
    # (r5 verdict perf item; checkpoint also keeps planning time flat)
    base = df.select(F.col(id_col), xq_arr.alias("_xq")).localCheckpoint()
    # seeds: ONE collect serving both the id order and the coordinates
    # (was two jobs — an id collect + an isin-filtered row collect)
    seed_rows = exact_sample(base, k, [id_col], seed="kmeans-exact-init").collect()
    # Totality guard (mirrors pagerank_exact): a corpus with fewer than k
    # rows degrades to k = n clusters; an empty corpus returns an empty
    # assignment rather than KeyError-ing on a missing seed centroid.
    k = min(k, len(seed_rows))
    if k == 0:
        return base.select(id_col, F.lit(0).alias("cid")).limit(0), [], {}
    cents = {
        (cid, d): int(x)
        for cid, r in enumerate(seed_rows)
        for d, x in enumerate(r["_xq"])
    }

    dims = max(d for _, d in cents) + 1
    id_type = df.schema[id_col].dataType.simpleString()
    assigned = None
    sizes: dict[int, int] = {}

    def _assign_with(cents_np):
        # codebook-in-closure Arrow kernel: the exact integer argmin
        # sum((xq-cq)^2) with first-minimum (= lowest-cid) tie-break,
        # identical to the literal-array JVM form this replaced. The JVM
        # side of the plan is now IDENTICAL every round (only the Python
        # closure changes), so whole-stage codegen compiles once instead
        # of re-compiling a k*d-literal expression per round — the cost
        # that dominated this query's bench line (r5 verdict perf item).
        # int64 is exact here: the per-batch guard raises before any
        # (x-c)^2 sum could reach 2^63 (explicit raise, survives -O).
        def kernel(batches):
            import numpy as np
            import pandas as pd

            for pdf in batches:
                if len(pdf) == 0:
                    continue
                X = np.array(list(pdf["_xq"]), dtype=np.int64)
                m = max(
                    int(np.abs(X).max()), int(np.abs(cents_np).max())
                )
                if X.shape[1] * (2 * m) * (2 * m) >= 2**63:
                    raise OverflowError(
                        f"int64 squared-distance would overflow: "
                        f"dims={X.shape[1]} max|coord|={m}"
                    )
                diff = X[:, None, :] - cents_np[None, :, :]
                dist = (diff * diff).sum(axis=2)
                yield pd.DataFrame(
                    {
                        id_col: pdf[id_col],
                        "_xq": pdf["_xq"],
                        "cid": dist.argmin(axis=1).astype("int32"),
                    }
                )

        return kernel

    import numpy as np

    for _ in range(iters):
        cents_np = np.array(
            [[cents[(cid, d)] for d in range(dims)] for cid in range(k)],
            dtype=np.int64,
        )
        assigned = base.mapInPandas(
            _assign_with(cents_np),
            f"{id_col} {id_type}, _xq array<long>, cid int",
        )
        agg_rows = (
            assigned.select("cid", F.posexplode("_xq").alias("d", "xq"))
            .groupBy("cid", "d")
            .agg(
                F.sum(F.col("xq").cast("decimal(38,0)")).alias("s"),
                F.count(F.lit(1)).alias("n"),
            )
            .collect()
        )
        sizes = {}
        new_cents = dict(cents)  # empty clusters keep previous centroid
        for r in agg_rows:
            new_cents[(r["cid"], r["d"])] = _tdiv(int(r["s"]), int(r["n"]))
            sizes[r["cid"]] = int(r["n"])
        cents = new_cents
        assigned = assigned.select(id_col, "cid")
    triples = sorted((cid, d, cq) for (cid, d), cq in cents.items())
    return assigned, triples, sizes
