"""Round-5 batch 10: semantic checks against pure-Python references
(salted-distinct equality, subtree rollup replay, SPRT walk replay,
PR-curve laws, rolling-origin fold laws)."""

from __future__ import annotations

from collections import defaultdict

from pyspark.sql import functions as F

import __spark_entry__ as entrymod

SF = "/root/testdata/sf0.001"


def test_salted_distinct_equals_plain_distinct(spark):
    from jigsaw_spark.plans.registry import _t

    ev = _t(spark, SF, "events").collect()
    users = defaultdict(set)
    events = defaultdict(int)
    for r in ev:
        users[r["event_type"]].add(r["user_id"])
        events[r["event_type"]] += 1
    got = {
        r["event_type"]: (r["n_users"], r["n_events"])
        for r in entrymod.queries()["agg_skew_salted_distinct"](
            spark, SF
        ).collect()
    }
    assert got == {
        et: (len(us), events[et]) for et, us in users.items()
    }


def test_hierarchy_rollup_subtree_sums(spark):
    part = spark.read.parquet(f"{SF}/part.parquet").collect()
    leaves = [
        (r["p_partkey"], int(round(r["p_retailprice"] * 100))) for r in part
    ]
    want = defaultdict(lambda: [0, 0])
    for pk, cents in leaves:
        for level, anc in enumerate((pk, pk // 10, pk // 100)):
            want[(anc, level)][0] += 1
            want[(anc, level)][1] += cents
    got = {
        (r["node_id"], r["level"]): [r["n_parts"], r["total_cents"]]
        for r in entrymod.queries()["rel_hierarchy_rollup"](
            spark, SF
        ).collect()
    }
    assert got == dict(want)
    # level-0 rows are the leaves themselves
    for (node, level), (n, _) in got.items():
        if level == 0:
            assert n == 1


def test_sprt_walk_replay(spark):
    from jigsaw_spark.plans.registry import _t
    from jigsaw_spark.plans.ab import _SPRT_A, _SPRT_DN, _SPRT_UP

    ev = _t(spark, SF, "events").select(
        "event_type",
        "user_id",
        F.unix_micros("ts").alias("x"),
        "event_id",
    )
    series = defaultdict(list)
    for r in ev.collect():
        series[r["event_type"]].append(
            (r["x"], r["event_id"], r["user_id"] % 2)
        )
    want = {}
    for et, obs in series.items():
        obs.sort()
        cum = 0
        decision, n_at = "continue", 0
        for i, (_, _, v) in enumerate(obs, start=1):
            cum += _SPRT_UP if v == 1 else _SPRT_DN
            if cum >= _SPRT_A:
                decision, n_at = "h1", i
                break
            if cum <= -_SPRT_A:
                decision, n_at = "h0", i
                break
        want[et] = (len(obs), n_at, decision)
    got = {
        r["event_type"]: (r["n_total"], r["n_at_decision"], r["decision"])
        for r in entrymod.queries()["ab_sprt_crossing"](spark, SF).collect()
    }
    assert got == want


def test_pr_curve_laws(spark):
    rows = sorted(
        entrymod.queries()["ml_pr_curve"](spark, SF).collect(),
        key=lambda r: -r["threshold_micro"],
    )
    docs = {
        r["doc_id"]: r["lang"] == "en"
        for r in spark.read.parquet(f"{SF}/documents.parquet").collect()
    }
    n_pos_odd = sum(
        1 for d, is_en in docs.items() if d % 2 == 1 and is_en
    )
    # tp/fp monotone nondecreasing as threshold drops; final recall = 1
    prev_tp = prev_fp = 0
    for r in rows:
        assert r["tp"] >= prev_tp and r["fp"] >= prev_fp
        prev_tp, prev_fp = r["tp"], r["fp"]
        assert r["precision_micro"] == r["tp"] * 1000000 // (
            r["tp"] + r["fp"]
        )
        assert r["recall_micro"] == r["tp"] * 1000000 // n_pos_odd
    assert rows[-1]["tp"] == n_pos_odd
    assert rows[-1]["recall_micro"] == 1000000


def test_rolling_origin_folds(spark):
    from jigsaw_spark.plans.registry import _t

    ev = _t(spark, SF, "events").select(
        F.unix_micros("ts").alias("x")
    )
    days = [r["x"] // 86_400_000_000 for r in ev.collect()]
    d0, d1 = min(days), max(days)
    rows = {
        r["fold"]: r
        for r in entrymod.queries()["p_rolling_origin_cv"](
            spark, SF
        ).collect()
    }
    assert set(rows) == {1, 2, 3, 4}
    for fold, r in rows.items():
        cut_lo = d0 + (fold * (d1 - d0 + 1)) // 5
        cut_hi = d0 + ((fold + 1) * (d1 - d0 + 1)) // 5
        assert (r["train_end_day"], r["test_end_day"]) == (cut_lo, cut_hi)
        assert r["n_train"] == sum(1 for d in days if d < cut_lo)
        assert r["n_test"] == sum(
            1 for d in days if cut_lo <= d < cut_hi
        )
        # train always precedes test; folds expand
        if fold > 1:
            assert r["n_train"] >= rows[fold - 1]["n_train"]
