"""Round-5 batch 12: semantic checks (freshness arithmetic, boosting
round replay with SSE reduction law)."""

from __future__ import annotations

from collections import defaultdict

from pyspark.sql import functions as F

import __spark_entry__ as entrymod

SF = "/root/testdata/sf0.001"


def test_freshness_arithmetic(spark):
    from jigsaw_spark.plans.registry import _t

    ev = _t(spark, SF, "events").select(
        "event_type", F.unix_micros("ts").alias("x")
    )
    last = defaultdict(int)
    n = defaultdict(int)
    for r in ev.collect():
        last[r["event_type"]] = max(last[r["event_type"]], r["x"])
        n[r["event_type"]] += 1
    frontier = max(last.values())
    got = {
        r["event_type"]: (
            r["n_events"],
            r["last_us"],
            r["lag_minutes"],
            r["is_stale_24h"],
        )
        for r in entrymod.queries()["dq_freshness"](spark, SF).collect()
    }
    assert got == {
        et: (
            n[et],
            ls,
            (frontier - ls) // 60_000_000,
            1 if frontier - ls > 86_400_000_000 else 0,
        )
        for et, ls in last.items()
    }


def test_boost_rounds_replay(spark):
    li = spark.read.parquet(f"{SF}/lineitem.parquet").collect()
    pts = [
        (
            int(round(r["l_quantity"])),
            int(round(r["l_discount"] * 100)),
            int(round(r["l_extendedprice"] * 100)),
        )
        for r in li
    ]

    def tdiv(x, d):
        return x // d if x >= 0 else -((-x) // d)

    def best_split(points, feat_idx, targets):
        v = defaultdict(lambda: [0, 0])
        for p, t in zip(points, targets):
            v[p[feat_idx]][0] += 1
            v[p[feat_idx]][1] += t
        tn = sum(c[0] for c in v.values())
        ts = sum(c[1] for c in v.values())
        ln = ls = 0
        best = None
        for x in sorted(v):
            ln += v[x][0]
            ls += v[x][1]
            if ln >= tn:
                continue
            # mirror the ENGINES' double sequence: each operand is cast
            # to double first (two roundings for the square), not
            # Python's exact big-int product
            fls, fts = float(ls), float(ts)
            gain = round(
                round(
                    fls * fls / ln
                    + (fts - fls) * (fts - fls) / (tn - ln)
                    - fts * fts / tn,
                    6,
                ),
                2,
            )
            key = (-gain, x)
            if best is None or key < best[0]:
                best = (
                    key,
                    x,
                    gain,
                    ln,
                    tn - ln,
                    tdiv(ls, ln),
                    tdiv(ts - ls, tn - ln),
                )
        return best[1:]

    ys = [y for _, _, y in pts]
    t1, g1, ln1, rn1, lv1, rv1 = best_split(pts, 0, ys)
    resid = [y - (lv1 if q <= t1 else rv1) for (q, _, y) in pts]
    t2, g2, ln2, rn2, lv2, rv2 = best_split(pts, 1, resid)
    got = {
        r["boost_round"]: (
            r["threshold"],
            r["gain"],
            r["left_n"],
            r["right_n"],
            r["left_value"],
            r["right_value"],
        )
        for r in entrymod.queries()["ml_boost_2rounds"](spark, SF).collect()
    }
    assert got[1] == (t1, g1, ln1, rn1, lv1, rv1)
    assert got[2] == (t2, g2, ln2, rn2, lv2, rv2)
    # boosting law: round-2 residual SSE at the chosen split is no
    # larger than the round-2 null SSE (gain >= 0)
    assert got[2][1] >= 0
