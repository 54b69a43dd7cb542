"""Round-5 batch 14: semantic checks (lateness replay, learning-curve
laws + full NB replay at 100%)."""

from __future__ import annotations

import hashlib
from collections import defaultdict

from pyspark.sql import functions as F

import __spark_entry__ as entrymod

SF = "/root/testdata/sf0.001"


def test_lateness_audit_replay(spark):
    from jigsaw_spark.plans.registry import _t

    ev = _t(spark, SF, "events").select(
        "event_type", F.unix_micros("ts").alias("x"), "event_id"
    )
    series = defaultdict(list)
    for r in ev.collect():
        series[r["event_type"]].append((r["event_id"], r["x"]))
    want = {}
    for et, obs in series.items():
        obs.sort()
        frontier = -1
        n5 = n1 = mx = 0
        for _, x in obs:
            frontier = max(frontier, x)
            late = frontier - x
            mx = max(mx, late)
            if late > 300_000_000:
                n5 += 1
            if late > 3_600_000_000:
                n1 += 1
        want[et] = (len(obs), n5, n1, mx)
    got = {
        r["event_type"]: (
            r["n_events"],
            r["n_late_5m"],
            r["n_late_1h"],
            r["max_late_us"],
        )
        for r in entrymod.queries()["stream_lateness_audit"](
            spark, SF
        ).collect()
    }
    assert got == want


def test_learning_curve_laws_and_full_fit_parity(spark):
    rows = {
        r["k_quarters"]: r
        for r in entrymod.queries()["ml_learning_curve"](spark, SF).collect()
    }
    assert set(rows) == {1, 2, 3, 4}
    docs = spark.read.parquet(f"{SF}/documents.parquet").collect()
    n_odd = sum(1 for r in docs if r["doc_id"] % 2 == 1)
    for k, r in rows.items():
        assert r["n_scored"] == n_odd
        assert 0 <= r["n_correct"] <= n_odd
        assert r["accuracy_micro"] == r["n_correct"] * 1000000 // n_odd

    # k=4 is the FULL fit half — must match ml_nbayes_classify's
    # accuracy exactly (same buckets, same smoothing, same prior)
    nb = entrymod.queries()["ml_nbayes_classify"](spark, SF).collect()
    truth = {r["doc_id"]: r["lang"] == "en" for r in docs}
    n_correct_nb = sum(
        1 for r in nb if (r["pred"] == "en") == truth[r["doc_id"]]
    )
    assert rows[4]["n_correct"] == n_correct_nb

    # quartile assignment law: the md5-first quarter of even docs is
    # exactly the k=1 fit set (replay the ranking)
    evens = sorted(
        (
            hashlib.md5(f"lc|{r['doc_id']}".encode()).hexdigest(),
            r["doc_id"],
        )
        for r in docs
        if r["doc_id"] % 2 == 0
    )
    n_even = len(evens)
    q1 = {d for i, (_, d) in enumerate(evens) if (i * 4) // n_even == 0}
    assert len(q1) in (n_even // 4, n_even // 4 + 1)
