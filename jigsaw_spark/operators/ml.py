"""Distributed classical-ML trainers beyond k-means/PQ (similarity.py).

The quality-model *scoring* side already exists (`text.py` linear scorer,
`plans/text.py:text_quality_model`); this module adds the *training* side:
a full-batch gradient-descent logistic regression over a feature/embedding
column — the fastText-style quality-classifier trainer of LLM curation
pipelines (e.g. CCNet/LLaMA wiki-reference classifiers), expressed
Spark-first.

Scale shape per iteration: the weight vector rides as a broadcast literal
(KB); ONE corpus scan computes per-row sigmoid scores JVM-side (aggregate
fold dot product, no Python), then posexplode + a (dim)-keyed hash agg
with map-side partials reduces the gradient to d rows collected
driver-side. Nothing iterative ever caches the corpus (re-scan, the
k-means pattern) and nothing quadratic exists — cost is O(iters · scan).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def logreg_train(
    df: DataFrame,
    label_col: str,
    vec_col: str = "embedding",
    n_iters: int = 10,
    lr: float = 0.5,
    l2: float = 0.0,
):
    """Full-batch GD on mean binary cross-entropy with optional L2.

    Returns ``(weights, bias, history)``: the final per-dimension weight
    list + intercept, and a per-iteration ``(iter, loss)`` list. Labels
    must be 0/1. Deterministic up to float-sum ordering (gradients are
    distributed double sums); the parity test bounds the drift vs a
    numpy reference instead of asserting bit equality.
    """
    dims = len(df.select(vec_col).first()[0])
    base = df.select(
        F.col(label_col).cast("double").alias("_y"),
        F.col(vec_col).cast("array<double>").alias("_v"),
    )
    n = base.count()

    w = [0.0] * dims
    b = 0.0
    history: list[tuple[int, float]] = []
    for it in range(n_iters):
        # weights enter as literal arrays: measured against the
        # alternative (a broadcast 1-row frame to keep generated code
        # identical across rounds), literals were ~30% faster end-to-end
        # — the per-round broadcast exchange costs more than the codegen
        # recompile it avoids
        w_lit = F.array(*[F.lit(x) for x in w])
        z = (
            F.aggregate(
                F.zip_with(F.col("_v"), w_lit, lambda x, wc: x * wc),
                F.lit(0.0),
                lambda acc, x: acc + x,
            )
            + F.lit(b)
        )
        p = F.lit(1.0) / (F.lit(1.0) + F.exp(-z))
        scored = base.select(
            "_y", "_v", p.alias("_p"), (p - F.col("_y")).alias("_e")
        )
        eps = F.lit(1e-12)
        loss_term = -F.col("_y") * F.log(F.col("_p") + eps) - (
            F.lit(1.0) - F.col("_y")
        ) * F.log(F.lit(1.0) - F.col("_p") + eps)
        # ONE job per iteration: the loss and bias-gradient sums ride the
        # d=0 rows of the same (dim)-keyed agg as conditional sums, so the
        # whole update is a single scan + single shuffle of d rows/task.
        grad_rows = (
            scored.select(
                "_e",
                loss_term.alias("_l"),
                F.posexplode("_v").alias("d", "x"),
            )
            .groupBy("d")
            .agg(
                F.sum(F.col("_e") * F.col("x")).alias("g"),
                F.sum(F.when(F.col("d") == 0, F.col("_l"))).alias("l0"),
                F.sum(F.when(F.col("d") == 0, F.col("_e"))).alias("e0"),
            )
            .collect()
        )
        grad = [0.0] * dims
        loss = grad_b = 0.0
        for r in grad_rows:
            grad[r["d"]] = float(r["g"]) / n
            if r["d"] == 0:
                loss, grad_b = float(r["l0"]), float(r["e0"])
        history.append((it, loss / n))
        w = [
            wi - lr * (gi + l2 * wi) for wi, gi in zip(w, grad)
        ]
        b = b - lr * grad_b / n
    return w, b, history


def logreg_score(
    df: DataFrame, weights: list[float], bias: float, vec_col: str = "embedding"
):
    """Map-only scoring with trained weights (broadcast literal): adds
    ``prob`` — the production inference path, zero shuffle."""
    w_lit = F.array(*[F.lit(float(x)) for x in weights])
    z = (
        F.aggregate(
            F.zip_with(
                F.col(vec_col).cast("array<double>"),
                w_lit,
                lambda x, wc: x * wc,
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        + F.lit(float(bias))
    )
    return df.withColumn("prob", F.lit(1.0) / (F.lit(1.0) + F.exp(-z)))


def _numpy_logreg(X, y, n_iters=10, lr=0.5, l2=0.0):
    """Reference implementation for the parity test (same GD schedule)."""
    import numpy as np

    w = np.zeros(X.shape[1])
    b = 0.0
    hist = []
    n = len(y)
    for it in range(n_iters):
        z = X @ w + b
        p = 1.0 / (1.0 + np.exp(-z))
        loss = float(
            np.sum(-y * np.log(p + 1e-12) - (1 - y) * np.log(1 - p + 1e-12))
            / n
        )
        hist.append((it, loss))
        e = p - y
        w = w - lr * (X.T @ e / n + l2 * w)
        b = b - lr * float(e.sum()) / n
    return w, b, hist



def hash_features(
    df: DataFrame,
    cols: list[str],
    dims: int = 32,
    seed: str = "fh",
    out_col: str = "features",
) -> DataFrame:
    """Feature hashing (the hashing trick, Weinberger et al. 2009): each
    ``col=value`` token hashes to a dimension index and a ±1 sign; the
    feature vector is the signed count per dimension — the standard
    unbounded-vocabulary categorical featurizer feeding ``logreg_train``.

    Spark-first shape: a pure map-side JVM expression (per row:
    dims × |cols| comparisons — fine for the wide-feature regime this
    targets), no vocabulary table, no shuffle, no Python. Hashing is the
    portable md5 stream (functions/hashing.py), so the oracle reproduces
    indices and signs bit-for-bit:
      idx  = uint48(md5(seed|col=value)[0:12]) % dims
      sign = +1 if hexdigit 13 is even else -1
    """
    from jigsaw_spark.functions.hashing import md5_int, md5_key

    toks = [
        md5_key(F.concat_ws("=", F.lit(c), F.col(c).cast("string")), seed=seed)
        for c in cols
    ]
    idxs = [F.pmod(md5_int(t, 12), F.lit(dims)) for t in toks]
    signs = [
        F.when(
            F.conv(F.substring(t, 13, 1), 16, 10).cast("int") % 2 == 0,
            F.lit(1.0),
        ).otherwise(F.lit(-1.0))
        for t in toks
    ]
    vec = F.transform(
        F.sequence(F.lit(0), F.lit(dims - 1)),
        lambda i: sum(
            (F.when(ix == i, sg).otherwise(F.lit(0.0)))
            for ix, sg in zip(idxs, signs)
        ),
    )
    return df.withColumn(out_col, vec)


def hash_features_sql(cols: list[str], dims: int = 32, seed: str = "fh") -> str:
    """DuckDB rendering of :func:`hash_features` — kept adjacent so the
    expression and oracle can never drift."""
    terms = []
    for c in cols:
        h = f"md5(concat_ws('|', '{seed}', concat_ws('=', '{c}', CAST({c} AS VARCHAR))))"
        idx = f"(('0x' || substr({h}, 1, 12))::UBIGINT % {dims})"
        sign = (
            f"CASE WHEN ('0x' || substr({h}, 13, 1))::INT % 2 = 0 "
            "THEN 1.0 ELSE -1.0 END"
        )
        terms.append(f"CASE WHEN {idx} = i THEN {sign} ELSE 0.0 END")
    body = " + ".join(terms)
    # ::DOUBLE[]: DuckDB types the CASE literals DECIMAL, which its client
    # returns as decimal.Decimal — value-equal but canon-string-different
    return f"(list_transform(range(0, {dims}), i -> {body}))::DOUBLE[]"


def power_iteration_pc1(
    df: DataFrame,
    vec_col: str = "embedding",
    n_iters: int = 15,
) -> tuple[list[float], float]:
    """Leading principal component by distributed power iteration on the
    (centered) covariance: per round ONE scan — t = X·v is a JVM fold,
    X^T·t reduces via posexplode + (dim)-keyed agg to d rows (the logreg
    gradient shape); the matrix is never materialized. Returns
    (unit eigenvector, eigenvalue estimate). Deterministic start
    (all-ones/sqrt(d)); sign fixed so the largest-|component| is
    positive."""
    import math

    dims = len(df.select(vec_col).first()[0])
    base = df.select(F.col(vec_col).cast("array<double>").alias("_v"))
    n = base.count()
    mean_rows = (
        base.select(F.posexplode("_v").alias("d", "x"))
        .groupBy("d")
        .agg((F.sum("x") / n).alias("m"))
        .collect()
    )
    mu = [0.0] * dims
    for r in mean_rows:
        mu[r["d"]] = float(r["m"])

    v = [1.0 / math.sqrt(dims)] * dims
    lam = 0.0
    for _ in range(n_iters):
        v_lit = F.array(*[F.lit(x) for x in v])
        mu_lit = F.array(*[F.lit(x) for x in mu])
        centered = F.zip_with(F.col("_v"), mu_lit, lambda x, m: x - m)
        t = F.aggregate(
            F.zip_with(centered, v_lit, lambda x, w: x * w),
            F.lit(0.0),
            lambda a, x: a + x,
        )
        w_rows = (
            base.select(t.alias("_t"), F.posexplode(centered).alias("d", "x"))
            .groupBy("d")
            .agg((F.sum(F.col("_t") * F.col("x")) / n).alias("w"))
            .collect()
        )
        w = [0.0] * dims
        for r in w_rows:
            w[r["d"]] = float(r["w"])
        lam = math.sqrt(sum(x * x for x in w))
        v = [x / lam for x in w] if lam > 0 else v
    # sign convention: largest-|component| positive
    k = max(range(dims), key=lambda i: abs(v[i]))
    if v[k] < 0:
        v = [-x for x in v]
    return v, lam


def _tdiv(a: int, b: int) -> int:
    """Integer division truncated toward zero — the one division form
    that Spark `div`, DuckDB `CASE`-guarded `//`, and Python share
    exactly (Python's bare ``//`` floors, which differs on negatives)."""
    return -((-a) // b) if a < 0 else a // b


def pca_pc1_exact(
    df: DataFrame,
    vec_col: str = "embedding",
    n_iters: int = 10,
    scale: int = 10**6,
) -> list[tuple[int, int]]:
    """Leading principal component with EXACT integer arithmetic — the
    oracle-certifiable twin of ``power_iteration_pc1``.

    Pipeline: quantize coordinates to ``scale`` micro-units
    (``round(x * 1e6)`` — one correctly-rounded double op per cell,
    identical in every engine), then compute the n²-scaled covariance
    from ONE corpus pass:

        C'[i][j] = n * sum(xq_i * xq_j) - sum(xq_i) * sum(xq_j)
        C''      = C' tdiv n²     (truncation toward zero)

    and run the power iteration on C'' in EXACT integers, renormalizing
    each round to max-|component| = ``scale`` by truncated division.
    Every step is integer-defined, so the trajectory is bit-identical
    across engines, partitionings, and retries — an exact SQL oracle
    can replay it (10 unrolled CTE stages over the d² matrix).

    Scale shape: ONE corpus scan (the float variant re-scans per
    iteration — n_iters× the IO at 100 TB); the (vec, i, j) product agg
    is linear with d² fan-out, sums carried in decimal(38,0) so 1e9-row
    corpora cannot wrap; C'' is d×d = KB-scale driver metadata (the
    codebook pattern), and the O(d²·iters) fixpoint runs on exact
    Python ints. Sign fixed so the largest-|component| (lowest dim on
    ties) is positive. Returns [(dim, pc1_micro)] with components in
    [-scale, scale].
    """
    n = df.count()
    if n == 0:
        return []
    xq_arr = F.transform(
        F.col(vec_col).cast("array<double>"),
        lambda x: F.round(x * scale).cast("long"),
    )
    base = df.select(xq_arr.alias("_xq"))
    s_rows = (
        base.select(F.posexplode("_xq").alias("d", "xq"))
        .groupBy("d")
        .agg(F.sum("xq").alias("s"))
        .collect()
    )
    dims = max(r["d"] for r in s_rows) + 1
    s = [0] * dims
    for r in s_rows:
        s[r["d"]] = int(r["s"])
    # outer product in a map-only Arrow kernel (the sanctioned Python
    # boundary: vector math too wide for F.aggregate): per chunk ONE
    # numpy int64 X^T X — d² partial sums per chunk instead of n*d²
    # exploded rows. Exactness does NOT lean on Arrow's batch size
    # (spark.sql.execution.arrow.maxRecordsPerBatch is a config, not an
    # invariant): the kernel re-chunks each Arrow batch to a fixed row
    # bound and asserts rows * max(|xq|)² < 2^63 per chunk, so a config
    # raise or an out-of-range embedding fails loudly instead of
    # silently wrapping np.int64. Cross-chunk merging happens in
    # decimal(38,0), so 1e9-row corpora cannot wrap either. Integer
    # addition commutes — any batch/partition/chunk order gives
    # identical sums, keeping the bit-identical contract.
    dcount = dims
    chunk_rows = 4096

    def outer_partials(batches):
        import numpy as np
        import pandas as pd

        for pdf in batches:
            X = np.array(list(pdf["_xq"]), dtype=np.int64)
            if len(X) == 0:
                continue
            for lo in range(0, len(X), chunk_rows):
                Xc = X[lo : lo + chunk_rows]
                m = int(np.abs(Xc).max())
                # explicit raise (not assert): the guard must survive
                # `python -O`, which strips asserts (r5 advisor)
                if len(Xc) * m * m >= 2**63:
                    raise OverflowError(
                        f"int64 X^T X partial would overflow: "
                        f"{len(Xc)} rows with max |xq| = {m}"
                    )
                C = Xc.T @ Xc
                yield pd.DataFrame(
                    {
                        "idx": np.arange(dcount * dcount, dtype=np.int64),
                        "prod": C.reshape(-1),
                    }
                )

    p_rows = (
        base.mapInPandas(outer_partials, "idx long, prod long")
        .groupBy("idx")
        .agg(F.sum(F.col("prod").cast("decimal(38,0)")).alias("p"))
        .collect()
    )
    c = [[0] * dims for _ in range(dims)]
    nn = n * n
    for r in p_rows:
        i, j = divmod(r["idx"], dims)
        c[i][j] = _tdiv(n * int(r["p"]) - s[i] * s[j], nn)

    v = [scale] * dims
    for _ in range(n_iters):
        w = [sum(c[i][j] * v[j] for j in range(dims)) for i in range(dims)]
        m = max(abs(x) for x in w) or 1
        v = [_tdiv(x * scale, m) for x in w]
    k = max(range(dims), key=lambda i: (abs(v[i]), -i))
    if v[k] < 0:
        v = [-x for x in v]
    return [(i, v[i]) for i in range(dims)]
