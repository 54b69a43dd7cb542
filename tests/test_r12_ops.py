"""Round-5 batch 6: semantic checks against pure-Python references
(kNN vote replay, k-core peeling replay, profile recompute,
Mann-Whitney identities, depth-2 tree replay)."""

from __future__ import annotations

from collections import Counter, defaultdict

from pyspark.sql import functions as F

import __spark_entry__ as entrymod

SF = "/root/testdata/sf0.001"


def test_knn_classify_matches_python_replay(spark):
    emb = spark.read.parquet(f"{SF}/embeddings.parquet").collect()
    vecs = {
        r["vec_id"]: (
            [int(round(float(x) * 1000000)) for x in r["embedding"]],
            r["label"],
        )
        for r in emb
    }
    want = {}
    for qid in [i for i in vecs if i < 10]:
        qv, tl = vecs[qid]
        dists = sorted(
            (
                sum((a - b) * (a - b) for a, b in zip(qv, cv)),
                cid,
                lab,
            )
            for cid, (cv, lab) in vecs.items()
            if cid >= 10
        )[:15]
        votes = Counter(lab for _, _, lab in dists)
        pred, n = sorted(votes.items(), key=lambda kv: (-kv[1], kv[0]))[0]
        want[qid] = (tl, pred, n)
    got = {
        r["query_id"]: (r["true_label"], r["pred_label"], r["n_votes"])
        for r in entrymod.queries()["ml_knn_classify"](spark, SF).collect()
    }
    assert got == want


def test_kcore_matches_peeling_replay(spark):
    from jigsaw_spark.operators.dedup import minhash_lsh_pairs

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    pairs = {
        (r["doc_a"], r["doc_b"])
        for r in minhash_lsh_pairs(
            docs, "doc_id", num_hashes=16, bands=4
        ).collect()
    }
    edges = set()
    for a, b in pairs:
        edges.add((a, b))
        edges.add((b, a))
    for _ in range(3):
        deg = Counter(s for s, _ in edges)
        keep = {n for n, d in deg.items() if d >= 2}
        edges = {(s, d) for s, d in edges if s in keep and d in keep}
    want = dict(Counter(s for s, _ in edges))
    got = {
        r["node"]: r["degree"]
        for r in entrymod.queries()["graph_kcore"](spark, SF).collect()
    }
    assert got == want


def test_column_profile_matches_recompute(spark):
    from jigsaw_spark.plans.registry import _t

    rows = {
        r["col"]: r
        for r in entrymod.queries()["dq_column_profile"](spark, SF).collect()
    }
    ev = _t(spark, SF, "events").collect()
    n = len(ev)
    assert set(rows) == {
        "event_id",
        "user_id",
        "value_cents",
        "event_type",
        "props",
    }
    for col in rows.values():
        assert col["n_rows"] == n
    ids = [r["event_id"] for r in ev if r["event_id"] is not None]
    assert rows["event_id"]["n_distinct"] == len(set(ids))
    assert rows["event_id"]["min_num"] == min(ids)
    assert rows["event_id"]["max_num"] == max(ids)
    cents = [
        int(round(r["value"] * 100)) for r in ev if r["value"] is not None
    ]
    assert rows["value_cents"]["min_num"] == min(cents)
    assert rows["value_cents"]["max_num"] == max(cents)
    assert rows["event_type"]["min_num"] is None
    props_nn = sum(1 for r in ev if r["props"] is not None)
    assert rows["props"]["n_nulls"] == n - props_nn


def test_mann_whitney_matches_rank_replay(spark):
    from jigsaw_spark.plans.registry import _t

    ev = _t(spark, SF, "events").select(
        "event_type",
        (F.col("user_id") % 2).cast("int").alias("variant"),
        F.round(F.col("value") * 100, 0).cast("bigint").alias("cents"),
    )
    groups = defaultdict(list)
    for r in ev.collect():
        groups[r["event_type"]].append((r["cents"], r["variant"]))
    want = {}
    for et, vals in groups.items():
        vals.sort()
        # 2x tie-averaged ranks
        rank2 = {}
        i = 0
        while i < len(vals):
            j = i
            while j < len(vals) and vals[j][0] == vals[i][0]:
                j += 1
            rank2[vals[i][0]] = (i + 1) + j  # min_rank + max_rank
            i = j
        n1 = sum(1 for _, v in vals if v == 1)
        n0 = len(vals) - n1
        r1_2 = sum(rank2[c] for c, v in vals if v == 1)
        u1 = r1_2 - n1 * (n1 + 1)
        want[et] = (n0, n1, u1, 2 * n0 * n1 - u1)
    got = {
        r["event_type"]: (r["n0"], r["n1"], r["u1_scaled"], r["u0_scaled"])
        for r in entrymod.queries()["ab_mann_whitney_u"](spark, SF).collect()
    }
    assert got == want
    for n0, n1, u1, u0 in got.values():
        assert u0 + u1 == 2 * n0 * n1  # U-sum identity (scaled)


def test_tree_depth2_matches_python_replay(spark):
    part = spark.read.parquet(f"{SF}/part.parquet").collect()
    pts = [
        (r["p_size"], len(r["p_name"]), 1 if r["p_retailprice"] > 1500 else 0)
        for r in part
    ]

    def best_split(points, feat):
        v = defaultdict(lambda: [0, 0])
        for p in points:
            v[p[feat]][p[2]] += 1
        t1 = sum(c[1] for c in v.values())
        t0 = sum(c[0] for c in v.values())
        best = None
        l0 = l1 = 0
        for f in sorted(v):
            l0 += v[f][0]
            l1 += v[f][1]
            if (t0 - l0) + (t1 - l1) == 0:
                continue
            err = min(l0, l1) + min(t0 - l0, t1 - l1)
            key = (err, f)
            if best is None or key < best[0]:
                best = (key, f, err, l0, l1, t0 - l0, t1 - l1)
        return best

    _, t_root, _, _, _, _, _ = best_split(pts, 0)
    want = {}
    for side, pred in (("L", lambda p: p[0] <= t_root), ("R", lambda p: p[0] > t_root)):
        sub = [p for p in pts if pred(p)]
        b = best_split(sub, 1)
        if b is not None:
            _, t_child, err, l0, l1, r0, r1 = b
            want[side] = (t_root, t_child, err, l0, l1, r0, r1)
    got = {
        r["side"]: (
            r["root_threshold"],
            r["child_threshold"],
            r["misclass"],
            r["ll_neg"],
            r["ll_pos"],
            r["lr_neg"],
            r["lr_pos"],
        )
        for r in entrymod.queries()["ml_tree_depth2"](spark, SF).collect()
    }
    assert got == want
