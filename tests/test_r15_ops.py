"""Round-5 batch 9: semantic checks against pure-Python references
(island reconstruction, mode replay, running-distinct law, LOO
encoding replay, growth arithmetic)."""

from __future__ import annotations

from collections import defaultdict

from pyspark.sql import functions as F

import __spark_entry__ as entrymod

SF = "/root/testdata/sf0.001"


def _user_days(spark):
    from jigsaw_spark.plans.registry import _t

    ev = _t(spark, SF, "events").select(
        "user_id",
        "event_type",
        F.unix_micros("ts").alias("x"),
        F.round(F.col("value") * 100, 0).cast("bigint").alias("cents"),
    )
    return ev.collect()


def test_gaps_islands_reconstruct(spark):
    rows = _user_days(spark)
    days = defaultdict(set)
    for r in rows:
        days[r["user_id"]].add(r["x"] // 86_400_000_000)
    want = set()
    for u, ds in days.items():
        ds = sorted(ds)
        start = prev = ds[0]
        for d in ds[1:]:
            if d == prev + 1:
                prev = d
            else:
                want.add((u, start, prev, prev - start + 1))
                start = prev = d
        want.add((u, start, prev, prev - start + 1))
    got = {
        (r["user_id"], r["start_day"], r["end_day"], r["n_days"])
        for r in entrymod.queries()["rel_gaps_islands"](spark, SF).collect()
    }
    assert got == want


def test_mode_exact_replay(spark):
    rows = _user_days(spark)
    counts = defaultdict(lambda: defaultdict(int))
    for r in rows:
        counts[r["event_type"]][r["cents"]] += 1
    want = {}
    for et, cs in counts.items():
        cents, n = sorted(cs.items(), key=lambda kv: (-kv[1], kv[0]))[0]
        want[et] = (cents, n)
    got = {
        r["event_type"]: (r["mode_cents"], r["n_occurrences"])
        for r in entrymod.queries()["agg_mode_exact"](spark, SF).collect()
    }
    assert got == want


def test_running_distinct_matches_cumulative_sets(spark):
    rows = _user_days(spark)
    seen_by_day = defaultdict(lambda: defaultdict(set))
    for r in rows:
        seen_by_day[r["event_type"]][r["x"] // 86_400_000_000].add(
            r["user_id"]
        )
    got = {
        (r["event_type"], r["day_id"]): (
            r["new_users"],
            r["cum_distinct_users"],
        )
        for r in entrymod.queries()["w12_running_distinct"](
            spark, SF
        ).collect()
    }
    expected_keys = set()
    for et, per_day in seen_by_day.items():
        seen = set()
        for day in sorted(per_day):
            new = per_day[day] - seen
            seen |= per_day[day]
            if new:
                assert got[(et, day)] == (len(new), len(seen))
                expected_keys.add((et, day))
            else:
                assert (et, day) not in got
    assert set(got) == expected_keys


def test_target_encode_loo_replay(spark):
    part = spark.read.parquet(f"{SF}/part.parquet").collect()
    pts = [
        (r["p_partkey"], r["p_brand"], 1 if r["p_retailprice"] > 1500 else 0)
        for r in part
    ]
    nc = defaultdict(int)
    sc = defaultdict(int)
    for _, c, y in pts:
        nc[c] += 1
        sc[c] += y
    gs = sum(y for _, _, y in pts)
    prior = gs * 1000000 // len(pts)
    want = {
        pk: (c, y, ((sc[c] - y) * 1000000 + 10 * prior) // (nc[c] - 1 + 10))
        for pk, c, y in pts
    }
    got = {
        r["p_partkey"]: (r["cat"], r["y"], r["enc_micro"])
        for r in entrymod.queries()["ml_target_encode_loo"](
            spark, SF
        ).collect()
    }
    assert got == want


def test_wow_growth_arithmetic(spark):
    rows = _user_days(spark)
    weekly = defaultdict(int)
    for r in rows:
        weekly[(r["event_type"], r["x"] // 604_800_000_000)] += r["cents"]
    series = defaultdict(list)
    for (et, wk), cents in sorted(weekly.items()):
        series[et].append((wk, cents))
    want = {}
    for et, pts in series.items():
        for (w0, c0), (w1, c1) in zip(pts, pts[1:]):
            if c0 > 0:
                d = (c1 - c0) * 10000
                bp = d // c0 if d >= 0 else -((-d) // c0)
                want[(et, w1)] = (c1, c0, bp)
    got = {
        (r["event_type"], r["week_id"]): (
            r["cents"],
            r["prev_cents"],
            r["growth_bp"],
        )
        for r in entrymod.queries()["ts_wow_growth"](spark, SF).collect()
    }
    assert got == want
