"""Round-5 batch 7: semantic checks against pure-Python references
(nearest-rank percentile replay, numpy OLS cross-check, negative-
sample determinism laws, uniqueness recompute, rebalance exactness)."""

from __future__ import annotations

import hashlib
from collections import defaultdict

import numpy as np
from pyspark.sql import functions as F

import __spark_entry__ as entrymod

SF = "/root/testdata/sf0.001"


def test_percentile_exact_matches_nearest_rank(spark):
    from jigsaw_spark.plans.registry import _t

    ev = _t(spark, SF, "events").select(
        "event_type",
        F.round(F.col("value") * 100, 0).cast("bigint").alias("cents"),
    )
    series = defaultdict(list)
    for r in ev.collect():
        series[r["event_type"]].append(r["cents"])
    want = {}
    for et, xs in series.items():
        xs.sort()
        n = len(xs)
        vals = tuple(xs[-(-p * n // 100) - 1] for p in (25, 50, 75))
        want[et] = (n,) + vals
    got = {
        r["event_type"]: (r["n"], r["p25_cents"], r["p50_cents"], r["p75_cents"])
        for r in entrymod.queries()["agg_percentile_exact"](
            spark, SF
        ).collect()
    }
    assert got == want


def test_ols_2feature_close_to_numpy_lstsq(spark):
    """The integer micro-unit coefficients must sit within 2 micro of
    the float least-squares solution on centered data (floor-division
    truncation is the only divergence)."""
    li = spark.read.parquet(f"{SF}/lineitem.parquet").collect()
    groups = defaultdict(list)
    for r in li:
        groups[r["l_returnflag"]].append(
            (
                int(round(r["l_quantity"])),
                int(round(r["l_discount"] * 100)),
                int(round(r["l_extendedprice"] * 100)),
            )
        )
    rows = {
        r["l_returnflag"]: r
        for r in entrymod.queries()["ml_ols_2feature"](spark, SF).collect()
    }
    assert set(rows) == set(groups)
    for g, pts in groups.items():
        x1, x2, y = (np.array(c, dtype=np.float64) for c in zip(*pts))
        n = len(pts)
        m1, m2, my = (
            int(x1.sum()) // n,
            int(x2.sum()) // n,
            int(y.sum()) // n,
        )
        u, v, d = x1 - m1, x2 - m2, y - my
        beta, *_ = np.linalg.lstsq(np.stack([u, v], axis=1), d, rcond=None)
        r = rows[g]
        assert r["n"] == n
        assert abs(r["b1_micro"] - beta[0] * 1e6) < 2.0, g
        assert abs(r["b2_micro"] - beta[1] * 1e6) < 2.0, g
        # intercept identity in micro units
        assert (
            r["b0_micro"]
            == my * 1000000 - r["b1_micro"] * m1 - r["b2_micro"] * m2
        )


def test_negative_sampling_laws(spark):
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    ids = {r["doc_id"] for r in docs.select("doc_id").collect()}
    mx = max(ids)
    rows = entrymod.queries()["p_negative_sampling"](spark, SF).collect()
    per_doc = defaultdict(list)
    for r in rows:
        per_doc[r["doc_id"]].append((r["neg_rank"], r["neg_id"]))
        assert r["neg_id"] != r["doc_id"]
        assert r["neg_id"] in ids
    assert set(per_doc) == ids
    for doc, negs in per_doc.items():
        assert sorted(r for r, _ in negs) == list(range(1, len(negs) + 1))
        assert len(negs) <= 4
        # replay the hash draw
        cands = []
        for i in range(6):
            h = hashlib.md5(f"negsamp|{doc}|{i}".encode()).hexdigest()
            nid = int(h[:12], 16) % (mx + 1)
            if nid != doc:
                cands.append((i, nid))
        first = {}
        for i, nid in cands:
            first.setdefault(nid, i)
        order = sorted((fi, nid) for nid, fi in first.items())[:4]
        assert [nid for _, nid in order] == [
            nid for _, nid in sorted(negs)
        ]


def test_uniqueness_keys_recompute(spark):
    li = spark.read.parquet(f"{SF}/lineitem.parquet").collect()
    n = len(li)
    combos = {
        "l_orderkey": lambda r: (r["l_orderkey"],),
        "l_orderkey,l_linenumber": lambda r: (
            r["l_orderkey"],
            r["l_linenumber"],
        ),
        "l_partkey,l_suppkey": lambda r: (r["l_partkey"], r["l_suppkey"]),
        "l_orderkey,l_partkey,l_suppkey": lambda r: (
            r["l_orderkey"],
            r["l_partkey"],
            r["l_suppkey"],
        ),
    }
    got = {
        r["key_name"]: (r["n_rows"], r["n_distinct"], r["is_unique"])
        for r in entrymod.queries()["dq_uniqueness_keys"](spark, SF).collect()
    }
    for name, key in combos.items():
        d = len({key(r) for r in li})
        assert got[name] == (n, d, 1 if d == n else 0)


def test_class_balance_lands_exactly_on_target(spark):
    docs = spark.read.parquet(f"{SF}/documents.parquet").collect()
    by_lang = defaultdict(set)
    for r in docs:
        by_lang[r["lang"]].add(r["doc_id"])
    target = max(len(v) for v in by_lang.values())
    rows = entrymod.queries()["p_class_balance_resample"](
        spark, SF
    ).collect()
    out = defaultdict(list)
    for r in rows:
        out[r["lang"]].append(r["doc_id"])
        assert r["doc_id"] in by_lang[r["lang"]]
    for lang, copies in out.items():
        assert len(copies) == target, lang
        counts = defaultdict(int)
        for d in copies:
            counts[d] += 1
        assert set(counts) == by_lang[lang]  # every doc appears
        lo, hi = min(counts.values()), max(counts.values())
        assert hi - lo <= 1  # copies differ by at most the remainder
