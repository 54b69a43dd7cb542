"""Unit tests for dedup / similarity / text operators."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from jigsaw_spark.operators.dedup import (
    exact_dedup,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    simhash,
    simhash_pairs,
)
from jigsaw_spark.operators.similarity import (
    cosine_near_dup_pairs,
    cosine_topk,
    srp_buckets,
    srp_planes,
)
from jigsaw_spark.operators.text import tokens_expr


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "the quick brown fox jumps over the lazy cat"),  # near-dup of 1
        (3, "The quick  brown fox jumps over the lazy dog!"),  # exact dup of 1 (normalized)
        (4, "completely different words entirely here nothing shared with others"),
    ]
    return spark.createDataFrame(rows, "doc_id int, text string")


def test_tokens_normalization(spark):
    df = spark.createDataFrame([("A b,C  1!",)], "text string")
    got = df.select(tokens_expr("text").alias("t")).first().t
    assert got == ["a", "b", "c", "1"]


def test_exact_dedup_finds_normalized_dup(docs):
    out = exact_dedup(docs, "doc_id").select("doc_id", "keeper", "is_dup").collect()
    got = {r.doc_id: (r.keeper, r.is_dup) for r in out}
    assert got[1] == (1, False)
    assert got[3] == (1, True)  # normalizes to same fingerprint as doc 1
    assert got[2] == (2, False)
    assert got[4] == (4, False)


def test_ngram_jaccard_near_dup(docs):
    pairs = ngram_jaccard_pairs(docs, "doc_id", threshold=0.5).collect()
    got = {(r.doc_a, r.doc_b): r.jaccard for r in pairs}
    assert (1, 3) in got and got[(1, 3)] == 1.0  # exact normalized dup
    assert (1, 2) in got  # near-dup
    assert all(p != (1, 4) and p != (2, 4) and p != (3, 4) for p in got)


def test_ngram_jaccard_max_posting_cap(docs):
    # with an aggressive cap the join still runs and returns a subset
    capped = ngram_jaccard_pairs(docs, "doc_id", threshold=0.5, max_posting=2)
    full = ngram_jaccard_pairs(docs, "doc_id", threshold=0.5)
    assert capped.count() <= full.count()


def test_banded_pair_scores_collapses_exact_dups(docs):
    # C4 ordering: doc 3 (exact normalized dup of 1) is collapsed before
    # pair enumeration, so NO emitted pair involves it; the near-dup pair
    # (1, 2) survives through the LSH bands
    from jigsaw_spark.operators.dedup import banded_pair_scores

    pairs = banded_pair_scores(docs, "doc_id", threshold=0.5).collect()
    got = {(r.doc_a, r.doc_b): r.jaccard for r in pairs}
    assert all(3 not in p for p in got), got
    assert (1, 2) in got
    assert all(4 not in p for p in got)


def test_banded_pair_scores_match_exact_operator(docs):
    # every pair the banded default emits must carry the SAME score the
    # exact uncapped operator computes (banding prunes candidates, never
    # changes a surviving pair's intersection/size arithmetic)
    from jigsaw_spark.operators.dedup import banded_pair_scores

    exact = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in ngram_jaccard_pairs(docs, "doc_id", threshold=0.5).collect()
    }
    banded = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in banded_pair_scores(docs, "doc_id", threshold=0.5).collect()
    }
    for p, score in banded.items():
        assert exact[p] == score, (p, score, exact.get(p))


def test_banded_pair_scores_containment_measure(spark):
    # a short doc fully contained in a long one: overlap = 1.0 even when
    # Jaccard is low — the asymmetric measure the containment mode exists
    # for, computed through the same C4-ordered pipeline
    from jigsaw_spark.operators.dedup import banded_pair_scores

    base = "alpha beta gamma delta epsilon zeta eta theta"
    rows = [(1, base), (2, base + " iota kappa " + base.upper())]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    got = {
        (r.doc_a, r.doc_b): r.overlap
        for r in banded_pair_scores(
            df, "doc_id", threshold=0.5, measure="containment"
        ).collect()
    }
    if (1, 2) in got:  # banding is probabilistic on a 2-doc corpus
        assert got[(1, 2)] >= 0.9


def test_minhash_lsh_finds_exact_dup(docs):
    pairs = {(r.doc_a, r.doc_b) for r in minhash_lsh_pairs(docs, "doc_id").collect()}
    assert (1, 3) in pairs  # identical shingle sets always collide
    assert not any(4 in p for p in pairs)


def test_simhash_identical_for_normalized_dup(docs):
    sigs = {r.doc_id: r.simhash for r in simhash(docs, "doc_id").collect()}
    assert sigs[1] == sigs[3]
    assert 0 <= sigs[1] < 2**32
    assert sigs[1] != sigs[4]


def test_simhash_pairs_hamming(docs):
    pairs = {(r.doc_a, r.doc_b): r.hamming for r in simhash_pairs(docs, "doc_id", max_hamming=5).collect()}
    assert pairs.get((1, 3)) == 0


def test_keeper_frames_matches_separate_derivations(docs, tables):
    """keeper_frames must be a pure fusion: ded carries exact_dedup's
    flags unchanged and pairs is exactly keeper_pairs(df) — the r13
    one-window optimization cannot drift either output. keeper_pairs in
    turn equals the hand form, simhash_pairs over exact_dedup keepers."""
    from jigsaw_spark.operators.dedup import keeper_frames, keeper_pairs

    ded, kpairs = keeper_frames(docs, "doc_id")
    want_flags = {
        (r.doc_id, r.keeper, r.is_dup)
        for r in exact_dedup(docs, "doc_id")
        .select("doc_id", "keeper", "is_dup")
        .collect()
    }
    got_flags = {
        (r.doc_id, r.keeper, r.is_dup)
        for r in ded.select("doc_id", "keeper", "is_dup").collect()
    }
    assert got_flags == want_flags
    want_pairs = {
        (r.doc_a, r.doc_b)
        for r in keeper_pairs(docs, "doc_id").collect()
    }
    got_pairs = {(r.doc_a, r.doc_b) for r in kpairs.collect()}
    assert got_pairs == want_pairs
    # on the fixture and on the smoke corpus, whose keeper graph has edges
    for frame in (docs, tables["documents"]):
        keepers = exact_dedup(frame, "doc_id").filter(~F.col("is_dup"))
        hand = {
            (r.doc_a, r.doc_b)
            for r in simhash_pairs(keepers, "doc_id", max_hamming=2).collect()
        }
        assert hand == {
            (r.doc_a, r.doc_b) for r in keeper_pairs(frame, "doc_id").collect()
        }
    assert hand


@pytest.mark.parametrize("graph", ["keeper_pairs", "lsh_pairs"])
def test_graph_pairs_are_materialized_once(docs, graph):
    """keeper_pairs and lsh_pairs return their pairs behind their own
    (lazy) checkpoint, so consumers read stored pairs and add no
    checkpoint of their own."""
    from jigsaw_spark.operators import dedup

    pairs = getattr(dedup, graph)(docs, "doc_id")
    plan = pairs._jdf.queryExecution().optimizedPlan()
    assert plan.nodeName() == "LogicalRDD"


def test_signature_kernels_batch_position_invariant(spark):
    """The per-task digest/bit-row memo inside the signature kernels must
    never change a doc's signature: a doc coalesced into one batch with
    heavily-overlapping neighbours (memo hits) gets the same output as
    the same doc alone (cold memo)."""
    from jigsaw_spark.operators.dedup import minhash_band_sigs, simhash

    base = "the quick brown fox jumps over the lazy dog again and again"
    rows = [(i, base + f" suffix {i % 3}") for i in range(1, 30)]
    corpus = spark.createDataFrame(rows, "doc_id int, text string").coalesce(1)
    solo = spark.createDataFrame(rows[:1], "doc_id int, text string")

    together = {
        (r.doc_id, r.band): r.sig
        for r in minhash_band_sigs(corpus, "doc_id").collect()
    }
    alone = {
        (r.doc_id, r.band): r.sig
        for r in minhash_band_sigs(solo, "doc_id").collect()
    }
    assert alone == {k: v for k, v in together.items() if k[0] == 1}

    sig_together = {r.doc_id: r.simhash for r in simhash(corpus, "doc_id").collect()}
    sig_alone = {r.doc_id: r.simhash for r in simhash(solo, "doc_id").collect()}
    assert sig_alone[1] == sig_together[1]


@pytest.fixture(scope="module")
def vecs(spark):
    rows = [
        (0, [1.0, 0.0, 0.0]),
        (1, [0.9, 0.1, 0.0]),   # close to 0
        (2, [0.0, 1.0, 0.0]),
        (3, [-1.0, 0.0, 0.0]),  # opposite of 0
    ]
    return spark.createDataFrame(rows, "vec_id int, embedding array<float>")


def test_cosine_topk_ranks(vecs):
    out = cosine_topk(vecs, vecs.filter(F.col("vec_id") == 0), k=2).collect()
    ranked = sorted(((r.rank, r.vec_id, r.cosine) for r in out))
    assert ranked[0][1] == 1  # nearest neighbour of 0 is 1
    assert ranked[0][2] > 0.99
    assert len(out) == 2 and all(r.vec_id != 0 for r in out)


def test_cosine_topk_zero_norm_rows_do_not_poison_kth(spark):
    """Advisor r11 #1: >= k zero-norm rows in ONE batch once made the
    kth-partition threshold NaN, silently dropping every valid
    candidate. The fixture puts 3 zero vectors (>= k=2) and 3 valid
    vectors in a single Arrow batch and expects the valid top-2."""
    rows = [
        (10, [0.0, 0.0, 0.0]),
        (11, [0.0, 0.0, 0.0]),
        (12, [0.0, 0.0, 0.0]),
        (1, [1.0, 0.0, 0.0]),
        (2, [0.9, 0.1, 0.0]),
        (3, [0.0, 1.0, 0.0]),
    ]
    corpus = spark.createDataFrame(
        rows, "vec_id int, embedding array<float>"
    )
    panel = spark.createDataFrame(
        [(0, [1.0, 0.0, 0.0])], "vec_id int, embedding array<float>"
    )
    out = cosine_topk(corpus, panel, k=2).collect()
    got = {(r.rank, r.vec_id) for r in out}
    assert got == {(1, 1), (2, 2)}
    assert all(r.vec_id not in (10, 11, 12) for r in out)


def test_cosine_topk_zero_norm_panel_vector_yields_no_rows(spark, vecs):
    """Contract: a zero-norm panel vector has no defined cosine — that
    query contributes NO output rows (not NaN-first rows)."""
    panel = spark.createDataFrame(
        [(99, [0.0, 0.0, 0.0]), (0, [1.0, 0.0, 0.0])],
        "vec_id int, embedding array<float>",
    )
    out = cosine_topk(vecs, panel, k=2).collect()
    assert {r.query_id for r in out} == {0}
    assert len(out) == 2


def test_cosine_topk_empty_panel_is_lazy_empty(vecs):
    """Contract: an empty panel returns an empty, correctly-typed
    result lazily (the pre-round-10 Catalyst behavior)."""
    out_df = cosine_topk(vecs, vecs.filter(F.col("vec_id") == 999), k=2)
    assert out_df.columns == ["query_id", "vec_id", "cosine", "rank"]
    assert out_df.collect() == []


def test_cosine_topk_null_panel_id_raises(spark, vecs):
    panel = spark.createDataFrame(
        [(None, [1.0, 0.0, 0.0])], "vec_id int, embedding array<float>"
    )
    with pytest.raises(ValueError, match="panel ids"):
        cosine_topk(vecs, panel, k=2)


def test_cosine_topk_null_panel_embedding_raises(spark, vecs):
    panel = spark.createDataFrame(
        [(7, None)], "vec_id int, embedding array<float>"
    )
    with pytest.raises(ValueError, match="panel embeddings"):
        cosine_topk(vecs, panel, k=2)
    # a NULL element inside a present panel vector raises too
    panel2 = spark.createDataFrame(
        [(7, [1.0, None, 0.0])], "vec_id int, embedding array<float>"
    )
    with pytest.raises(ValueError, match="panel embeddings"):
        cosine_topk(vecs, panel2, k=2)


def test_cosine_topk_null_corpus_rows_excluded(spark):
    """Contract: NULL corpus ids / embeddings are filtered at the scan
    instead of crashing the kernel's int64/vstack conversions."""
    corpus = spark.createDataFrame(
        [
            (1, [1.0, 0.0, 0.0]),
            (2, [0.9, 0.1, 0.0]),
            (None, [0.8, 0.2, 0.0]),
            (3, None),
        ],
        "vec_id int, embedding array<float>",
    )
    panel = spark.createDataFrame(
        [(0, [1.0, 0.0, 0.0])], "vec_id int, embedding array<float>"
    )
    out = cosine_topk(corpus, panel, k=3).collect()
    assert {r.vec_id for r in out} == {1, 2}


def test_cosine_near_dup_threshold(vecs):
    pairs = {(r.id_a, r.id_b) for r in cosine_near_dup_pairs(vecs, 0.9).collect()}
    assert pairs == {(0, 1)}


def test_srp_buckets_deterministic_and_close_vectors_collide(spark):
    import random

    random.seed(7)
    base = [random.uniform(-1, 1) for _ in range(64)]
    near = [x + 0.001 for x in base]
    far = [random.uniform(-1, 1) for _ in range(64)]
    df = spark.createDataFrame(
        [(0, base), (1, near), (2, far)], "vec_id int, embedding array<float>"
    )
    sigs = {r.vec_id: r.sig for r in srp_buckets(df, num_planes=16).collect()}
    sigs2 = {r.vec_id: r.sig for r in srp_buckets(df, num_planes=16).collect()}
    assert sigs == sigs2  # deterministic
    assert sigs[0] == sigs[1]  # near-identical vectors share the bucket
    assert 0 <= sigs[0] < 2**16


def test_srp_planes_are_stable():
    p1 = srp_planes(2, 4)
    p2 = srp_planes(2, 4)
    assert p1 == p2
    assert all(-1.0 <= x < 1.0 for row in p1 for x in row)


# -- IVF search + TF-IDF -------------------------------------------------------


def test_ivf_topk_probes_only_assigned_cells(spark):
    from jigsaw_spark.operators.similarity import ivf_assign, ivf_topk

    # 2D toy corpus: two tight clusters on orthogonal axes
    rows = [
        (0, [1.0, 0.0]),
        (1, [0.9, 0.1]),
        (2, [0.8, 0.2]),
        (3, [0.0, 1.0]),
        (4, [0.1, 0.9]),
        (5, [0.2, 0.8]),
    ]
    emb = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")
    centroids = [(0, [1.0, 0.0]), (3, [0.0, 1.0])]
    queries = emb.filter(F.col("vec_id") == 1)

    # nprobe=1: candidates come only from vec 1's own cell (0, 1, 2)
    got = ivf_topk(emb, queries, centroids, k=10, nprobe=1).collect()
    assert {r["vec_id"] for r in got} == {0, 2}
    assert [r["rank"] for r in sorted(got, key=lambda r: r["rank"])] == [1, 2]

    # nprobe=2 widens to both cells => all 5 non-self vectors
    got2 = ivf_topk(emb, queries, centroids, k=10, nprobe=2).collect()
    assert {r["vec_id"] for r in got2} == {0, 2, 3, 4, 5}

    cells = dict(
        (r["vec_id"], r["cell"]) for r in ivf_assign(emb, centroids).collect()
    )
    assert cells == {0: 0, 1: 0, 2: 0, 3: 3, 4: 3, 5: 3}


def test_tfidf_top_terms(spark):
    from jigsaw_spark.operators.text import tfidf_top_terms

    rows = [
        (1, "apple apple banana"),
        (2, "banana cherry"),
        (3, "cherry durian durian durian"),
    ]
    docs = spark.createDataFrame(rows, "doc_id int, text string")
    got = tfidf_top_terms(docs, "doc_id", top_n=2).collect()
    by_doc = {}
    for r in got:
        by_doc.setdefault(r["doc_id"], []).append((r["rank"], r["term"], r["tfidf"]))
    # doc 1: 'apple' (tf=2, df=1) dominates 'banana' (tf=1, df=2)
    assert [t for _, t, _ in sorted(by_doc[1])] == ["apple", "banana"]
    # doc 3: 'durian' tf=3 df=1 dominates 'cherry'
    assert [t for _, t, _ in sorted(by_doc[3])] == ["durian", "cherry"]
    # every doc emits <= top_n rows with contiguous ranks from 1
    for terms in by_doc.values():
        assert [r for r, _, _ in sorted(terms)] == list(range(1, len(terms) + 1))
    # idf smoothing: unique term in doc scores tf * (ln(4/2)+1)
    import math

    apple = next(r for r in got if r["term"] == "apple")
    assert apple["tfidf"] == round(2 * (math.log((1 + 3) / (1 + 1)) + 1), 4)


def test_connected_components_clusters_and_keepers(spark):
    from jigsaw_spark.operators.dedup import connected_components

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (20, 21), (21, 22), (20, 22)],
        "doc_a bigint, doc_b bigint",
    )
    expect = {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 20: 20, 21: 20, 22: 20}
    # both physical strategies (single-task union-find, iterative pointer
    # jumping) must agree with each other and the closure
    for strategy in ("local", "distributed", "auto"):
        got = {
            r["doc_id"]: r["component"]
            for r in connected_components(pairs, strategy=strategy).collect()
        }
        assert got == expect, strategy


def test_component_depths_strategies_agree(spark):
    """component_depths: both physical strategies (single-task BFS,
    cap-round relaxation) must agree with the hand-computed hop
    distances, including the beyond-cap bucket."""
    from jigsaw_spark.operators.dedup import component_depths

    # chain 1-2-3-4-5 (depths 0..4), triangle 20-21-22 (0,1,1),
    # pair 10-11 (0,1)
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5), (10, 11), (20, 21), (21, 22), (20, 22)],
        "doc_a bigint, doc_b bigint",
    )
    expect = {1: 0, 2: 1, 3: 2, 4: 3, 5: 4, 10: 0, 11: 1, 20: 0, 21: 1, 22: 1}
    for strategy in ("local", "distributed", "auto"):
        got = {
            r["doc_id"]: r["depth"]
            for r in component_depths(pairs, strategy=strategy).collect()
        }
        assert got == expect, strategy
    # cap: nodes past `cap` hops land in the cap+1 bucket, both paths
    expect_cap = {1: 0, 2: 1, 3: 2, 4: 3, 5: 3, 10: 0, 11: 1, 20: 0, 21: 1, 22: 1}
    for strategy in ("local", "distributed"):
        got = {
            r["doc_id"]: r["depth"]
            for r in component_depths(pairs, cap=2, strategy=strategy).collect()
        }
        assert got == expect_cap, strategy


def test_hop_counts_strategies_agree(spark):
    """hop_counts: both physical strategies (single-task BFS, frontier
    join chain) must agree with the hand-computed exact-hop counts over
    a symmetric edge list."""
    from jigsaw_spark.operators.dedup import hop_counts, symmetric_edges

    # chain 1-2-3-4-5, triangle 20-21-22, pair 10-11
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5), (10, 11), (20, 21), (21, 22), (20, 22)],
        "doc_a bigint, doc_b bigint",
    )
    edges = symmetric_edges(pairs)
    # (n1, n2, n3) per node: chain ends see 1,1,1; chain node 2 sees
    # 2,1,1 (1+3 at hop1, 4 at hop2, 5 at hop3); centre 3 sees 2,2,0;
    # triangle nodes see both others at hop 1; the pair sees each other
    expect = {
        1: (1, 1, 1),
        2: (2, 1, 1),
        3: (2, 2, 0),
        4: (2, 1, 1),
        5: (1, 1, 1),
        10: (1, 0, 0),
        11: (1, 0, 0),
        20: (2, 0, 0),
        21: (2, 0, 0),
        22: (2, 0, 0),
    }
    for strategy in ("local", "distributed", "auto"):
        got = {
            r["u"]: (r["n1"], r["n2"], r["n3"])
            for r in hop_counts(edges, max_hops=3, strategy=strategy).collect()
        }
        assert got == expect, strategy


def test_kmeans_lloyd_matches_numpy(spark):
    """kmeans_lloyd == a straight numpy Lloyd run with the same seeds,
    same cosine assignment, same round-9/lowest-id tie-break."""
    import numpy as np
    from pyspark.sql import functions as F

    from jigsaw_spark.functions.hashing import det_order
    from jigsaw_spark.operators.similarity import kmeans_lloyd
    from tests.conftest import SF_SMOKE

    from jigsaw_spark.session import load_table

    emb = load_table(spark, SF_SMOKE, "embeddings")
    k, iters = 4, 2
    assigned, centroids = kmeans_lloyd(emb, k=k, iters=iters)
    got = {r.vec_id: r.cell for r in assigned.collect()}

    # numpy replica
    rows = emb.select("vec_id", "embedding").collect()
    ids = np.array([r.vec_id for r in rows])
    X = np.array([r.embedding for r in rows], dtype=np.float64)
    seed_ids = [
        r.vec_id
        for r in emb.select("vec_id")
        .orderBy(*det_order("vec_id", seed="kmeans-init"))
        .limit(k)
        .collect()
    ]
    C = np.vstack([X[ids == sid][0] for sid in seed_ids])
    for _ in range(iters):
        S = (X @ C.T) / np.outer(
            np.linalg.norm(X, axis=1), np.linalg.norm(C, axis=1)
        )
        a = np.argmax(np.round(S, 9), axis=1)
        C = np.vstack(
            [X[a == c].mean(axis=0) if (a == c).any() else C[c] for c in range(k)]
        )
    S = (X @ C.T) / np.outer(np.linalg.norm(X, axis=1), np.linalg.norm(C, axis=1))
    want = dict(zip(ids.tolist(), np.argmax(np.round(S, 9), axis=1).tolist()))
    # the engine's `assigned` is the assignment made with the penultimate
    # codebook (assignment happens before the final mean update), so
    # compare against the numpy assignment from that same stage
    C2 = np.vstack([X[ids == sid][0] for sid in seed_ids])
    for _ in range(iters - 1):
        S2 = (X @ C2.T) / np.outer(
            np.linalg.norm(X, axis=1), np.linalg.norm(C2, axis=1)
        )
        a2 = np.argmax(np.round(S2, 9), axis=1)
        C2 = np.vstack(
            [X[a2 == c].mean(axis=0) if (a2 == c).any() else C2[c] for c in range(k)]
        )
    S2 = (X @ C2.T) / np.outer(np.linalg.norm(X, axis=1), np.linalg.norm(C2, axis=1))
    want_last = dict(zip(ids.tolist(), np.argmax(np.round(S2, 9), axis=1).tolist()))
    assert got == want_last
    # trained centroids ≈ numpy centroids after the full loop
    trained = np.array([v for _, v in centroids])
    np.testing.assert_allclose(np.sort(np.linalg.norm(trained, axis=1)),
                               np.sort(np.linalg.norm(C, axis=1)), rtol=1e-9)


def test_pq_encode_matches_numpy(spark):
    """pq_encode == numpy argmin over the same seed-derived codebooks."""
    import numpy as np

    from jigsaw_spark.functions.hashing import det_order
    from jigsaw_spark.operators.similarity import pq_encode
    from jigsaw_spark.session import load_table
    from tests.conftest import SF_SMOKE

    emb = load_table(spark, SF_SMOKE, "embeddings")
    m, k = 4, 8
    codes_df, books = pq_encode(emb, m=m, k=k)
    got = {r.vec_id: list(r.codes) for r in codes_df.collect()}

    rows = emb.select("vec_id", "embedding").collect()
    ids = [r.vec_id for r in rows]
    X = np.array([r.embedding for r in rows], dtype=np.float64)
    seed_rows = (
        emb.select("embedding")
        .orderBy(*det_order("vec_id", seed="pq-train"))
        .limit(k)
        .collect()
    )
    S = np.array([r.embedding for r in seed_rows], dtype=np.float64)
    dsub = X.shape[1] // m
    want = {}
    for i, vid in enumerate(ids):
        cs = []
        for j in range(m):
            B = S[:, j * dsub : (j + 1) * dsub]
            sub = X[i, j * dsub : (j + 1) * dsub]
            d2 = ((sub - B) ** 2).sum(1)
            cs.append(int(np.argmin(np.round(d2, 9))))
        want[vid] = cs
    assert got == want
    assert len(books) == m and len(books[0]) == k


def test_minhash_lsh_skew_cap_bounds_fanout(spark):
    """Oversized (boilerplate) buckets emit a linear chain; pairs among
    normal docs are untouched by the cap."""
    boiler = "identical boilerplate disclaimer text repeated across corpus"
    rows = [(i, boiler) for i in range(100)] + [
        (200, "the quick brown fox jumps over the lazy dog"),
        (201, "the quick brown fox jumps over the lazy cat"),
        (202, "zebra yak xylophone wombat vulture unique words here"),
    ]
    df = spark.createDataFrame(rows, "doc_id int, text string")

    capped = {
        (r.doc_a, r.doc_b)
        for r in minhash_lsh_pairs(df, "doc_id", max_bucket=10).collect()
    }
    uncapped = {
        (r.doc_a, r.doc_b) for r in minhash_lsh_pairs(df, "doc_id").collect()
    }

    boiler_capped = {p for p in capped if p[0] < 100}
    boiler_uncapped = {p for p in uncapped if p[0] < 100}
    # quadratic -> linear: 100*99/2 pairs collapse to the 99-edge chain
    assert len(boiler_uncapped) == 100 * 99 // 2
    assert boiler_capped == {(i, i + 1) for i in range(99)}
    # the chain keeps the bucket one connected component
    nodes = {x for p in boiler_capped for x in p}
    assert nodes == set(range(100))
    # recall elsewhere unchanged: non-boilerplate pairs identical
    assert {p for p in capped if p[0] >= 100} == {
        p for p in uncapped if p[0] >= 100
    }


def test_unigram_logprob_reference(spark):
    """Hand-computed corpus LM: 'a a b' + 'b c' → counts a:2 b:2 c:1, T=5."""
    import math

    from jigsaw_spark.operators.text import unigram_logprob

    df = spark.createDataFrame(
        [(1, "a a b"), (2, "b c")], "doc_id int, text string"
    )
    got = {r.doc_id: r for r in unigram_logprob(df, "doc_id").collect()}
    exp1 = -(2 * math.log(2 / 5) + math.log(2 / 5)) / 3
    exp2 = -(math.log(2 / 5) + math.log(1 / 5)) / 2
    assert got[1].n_tokens == 3 and abs(got[1].neg_logprob - exp1) < 1e-3
    assert got[2].n_tokens == 2 and abs(got[2].neg_logprob - exp2) < 1e-3


def test_bm25_ranks_matching_docs_first(spark):
    from jigsaw_spark.operators.text import bm25_topk

    df = spark.createDataFrame(
        [
            (1, "spark spark spark window"),
            (2, "spark window"),
            (3, "table scan row"),
            (4, "window"),
        ],
        "doc_id int, text string",
    )
    rows = bm25_topk(df, "doc_id", ["spark", "window"], k=3).collect()
    ranked = [r.doc_id for r in rows]
    assert len(ranked) == 3
    assert 3 not in ranked  # non-matching doc never scores
    assert ranked[0] in (1, 2)  # both query terms present rank highest
    assert all(r.bm25 > 0 for r in rows)


def test_ivfpq_matches_numpy_reference(spark):
    """IVF-PQ ADC distances vs a straight numpy replay of the same
    codebooks/cells (deterministic md5-ordered training)."""
    import numpy as np

    from jigsaw_spark.functions.hashing import det_order
    from jigsaw_spark.operators.similarity import ivfpq_topk

    rng = np.random.RandomState(7)
    vecs = rng.randn(40, 8).astype("float32")
    df = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(40)],
        "vec_id long, embedding array<float>",
    )
    centroids = [(i, [float(x) for x in vecs[i]]) for i in range(4)]
    queries = centroids[:2]
    got = ivfpq_topk(df, queries, centroids, k=5, nprobe=2, m=4, codes_k=8)
    rows = got.collect()
    assert {r.query_id for r in rows} == {0, 1}

    # numpy replay: PQ codebooks = first 8 vectors in md5(vec_id) order
    order_df = df.select("vec_id").orderBy(
        *det_order("vec_id", seed="pq-train")
    ).limit(8)
    seed_ids = [r.vec_id for r in order_df.collect()]
    S = vecs[seed_ids].astype(np.float64)
    books = [S[:, j * 2 : (j + 1) * 2] for j in range(4)]
    C = np.array([v for _, v in centroids])
    M = vecs.astype(np.float64)
    cos = (M @ C.T) / np.outer(
        np.linalg.norm(M, axis=1), np.linalg.norm(C, axis=1)
    )
    cells = np.argmax(np.round(cos, 9), axis=1)
    codes = np.empty((40, 4), dtype=int)
    for j, B in enumerate(books):
        sub = M[:, j * 2 : (j + 1) * 2]
        d2 = (
            (sub * sub).sum(1, keepdims=True)
            - 2.0 * (sub @ B.T)
            + (B * B).sum(1)
        )
        codes[:, j] = np.argmin(np.round(d2, 9), axis=1)
    for r in rows:
        qv = vecs[r.query_id].astype(np.float64)
        adc = 0.0
        for j, B in enumerate(books):
            diff = B[codes[r.vec_id, j]] - qv[j * 2 : (j + 1) * 2]
            adc += float((diff * diff).sum())
        assert abs(adc - r.adc_d2) < 1e-3
        # probed-cells-only guarantee
        qcos = (C @ qv) / (np.linalg.norm(C, axis=1) * np.linalg.norm(qv))
        probed = set(np.argsort(-np.round(qcos, 9))[:2])
        assert cells[r.vec_id] in probed


_TOKENLESS_ROWS = [
    (1, "the quick brown fox jumps over the lazy dog"),
    (2, "The quick  brown fox jumps over the lazy dog!"),  # exact dup
    (3, "!!! ..."),  # punctuation-only → zero tokens
    (4, "???"),  # distinct punctuation-only → zero tokens
    (5, ""),  # blank → zero tokens
]

_NULL_TEXT_ROWS = [
    (1, None),
    (2, None),
    (3, ""),
    (4, "the quick brown fox jumps over the lazy dog"),
    (5, "the quick brown fox jumps over the lazy dog"),
]


def test_near_dup_keepers_token_empty_docs_stay_singletons(spark):
    """Two DISTINCT punctuation-only docs share fingerprint md5('') but
    carry no tokens: the signature relation (and the certified SQL
    oracles) drop them, so each must keep ITSELF — not collapse to one
    arbitrary-min keeper through the exact-dedup fast path (r6 advisor,
    medium)."""
    from jigsaw_spark.operators.dedup import near_dup_keepers

    df = spark.createDataFrame(_TOKENLESS_ROWS, "doc_id int, text string")
    got = {
        r.doc_id: r.keeper
        for r in near_dup_keepers(df, "doc_id").collect()
    }
    assert got[1] == 1 and got[2] == 1  # real exact dups still collapse
    assert got[3] == 3 and got[4] == 4 and got[5] == 5  # singletons


def test_near_dup_keepers_null_text_docs_stay_singletons(spark):
    """NULL text has no tokens and no signature, so each NULL-text doc
    keeps ITSELF, exactly like an empty-text doc: NULL-text docs do not
    share one keeper (FIXTURES.md §9)."""
    from jigsaw_spark.operators.dedup import near_dup_keepers

    df = spark.createDataFrame(_NULL_TEXT_ROWS, "doc_id int, text string")
    got = {
        r.doc_id: r.keeper
        for r in near_dup_keepers(df, "doc_id").collect()
    }
    assert got == {1: 1, 2: 2, 3: 3, 4: 4, 5: 4}


@pytest.mark.parametrize(
    "rows, dup", [(_TOKENLESS_ROWS, 2), (_NULL_TEXT_ROWS, 5)],
    ids=["tokenless", "null_text"],
)
def test_dedup_bias_drops_exact_copies(spark, tmp_path, rows, dup):
    """dq_dedup_bias labels docs by the near-dup cluster label, so an exact
    copy that is not its fingerprint's keeper counts as dropped, and its
    oracle agrees (FIXTURES.md §9 fixtures)."""
    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    from jigsaw_spark.plans.queries import QUERIES

    path = tmp_path / "documents.parquet"
    ids = pa.array([d for d, _ in rows], pa.int64())
    # n_chars carries the doc id, so a 1-doc row's mean_chars names its doc
    pq.write_table(
        pa.table({
            "doc_id": ids,
            "text": pa.array([t for _, t in rows], pa.string()),
            "n_chars": ids,
        }),
        path,
    )
    spec = QUERIES["dq_dedup_bias"]
    got = sorted(tuple(r) for r in spec.spark(spark, str(tmp_path)).collect())
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM '{path}'")
    assert got == sorted(con.execute(spec.oracle).fetchall())
    # (is_dropped, n_docs, ..., mean_chars)
    assert [(r[0], r[1], r[-1]) for r in got if r[0]] == [(True, 1, dup)]


@pytest.mark.parametrize(
    "rows", [_TOKENLESS_ROWS, _NULL_TEXT_ROWS], ids=["tokenless", "null_text"]
)
def test_keeper_cluster_cte_matches_near_dup_keepers(spark, rows):
    """The oracles' per-doc cluster label (``_keeper_cluster_cte``) gives
    the same doc → cluster map as near_dup_keepers, token-less docs
    included (FIXTURES.md §9)."""
    import duckdb

    from jigsaw_spark.operators.dedup import near_dup_keepers
    from jigsaw_spark.plans.dedup import (
        _KEEPER_COMPONENTS_CTE,
        _keeper_cluster_cte,
    )

    con = duckdb.connect()
    con.execute("CREATE TABLE documents (doc_id INTEGER, text VARCHAR)")
    con.executemany("INSERT INTO documents VALUES (?, ?)", rows)
    got = dict(
        con.execute(
            f"WITH RECURSIVE {_KEEPER_COMPONENTS_CTE}, "
            f"{_keeper_cluster_cte()} SELECT doc_id, cluster FROM clust"
        ).fetchall()
    )
    df = spark.createDataFrame(rows, "doc_id int, text string")
    want = {
        r.doc_id: r.keeper
        for r in near_dup_keepers(df, "doc_id").collect()
    }
    assert got == want
