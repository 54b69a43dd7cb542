"""Round-5 batch 17: semantic checks (cross-correlation replay,
feature-importance replay + symmetry law)."""

from __future__ import annotations

import math
from collections import defaultdict

from pyspark.sql import functions as F

import __spark_entry__ as entrymod

SF = "/root/testdata/sf0.001"


def test_cross_corr_replay(spark):
    from jigsaw_spark.plans.registry import _t

    ev = _t(spark, SF, "events").select(
        "event_type",
        F.unix_micros("ts").alias("x"),
        F.round(F.col("value") * 100, 0).cast("bigint").alias("cents"),
    )
    daily = defaultdict(int)
    for r in ev.collect():
        daily[(r["event_type"], r["x"] // 86_400_000_000)] += r["cents"]
    series = defaultdict(dict)
    for (et, day), cents in daily.items():
        series[et][day] = cents // 100
    dev = {}
    sdd = {}
    for et, days in series.items():
        mq = sum(days.values()) // len(days)
        dev[et] = {d: y - mq for d, y in days.items()}
        sdd[et] = sum(v * v for v in dev[et].values())
    want = {}
    for a in series:
        for b in series:
            if a == b:
                continue
            for lag in range(3):
                num = 0
                n_pairs = 0
                for d, va in dev[a].items():
                    vb = dev[b].get(d + lag)
                    if vb is not None:
                        num += va * vb
                        n_pairs += 1
                if n_pairs == 0:
                    continue
                xc = (
                    round(
                        round(
                            num / (math.sqrt(sdd[a]) * math.sqrt(sdd[b])),
                            9,
                        ),
                        6,
                    )
                    if sdd[a] > 0 and sdd[b] > 0
                    else 0.0
                )
                want[(a, b, lag)] = (n_pairs, xc)
    got = {
        (r["lead_type"], r["follow_type"], r["lag"]): (
            r["n_pairs"],
            r["xcorr"],
        )
        for r in entrymod.queries()["ts_cross_corr"](spark, SF).collect()
    }
    assert got == want
    # lag-0 symmetry: xcorr(a, b, 0) == xcorr(b, a, 0)
    for (a, b, lag), (_, xc) in got.items():
        if lag == 0:
            assert got[(b, a, 0)][1] == xc
        assert -1.0 <= xc <= 1.0


def test_feature_importance_replay(spark):
    part = spark.read.parquet(f"{SF}/part.parquet").collect()
    feats = {
        "p_size": [(r["p_size"], 1 if r["p_retailprice"] > 1500 else 0) for r in part],
        "len_p_name": [
            (len(r["p_name"]), 1 if r["p_retailprice"] > 1500 else 0)
            for r in part
        ],
        "len_p_type": [
            (len(r["p_type"]), 1 if r["p_retailprice"] > 1500 else 0)
            for r in part
        ],
    }
    n = len(part)
    pos = sum(1 for r in part if r["p_retailprice"] > 1500)
    null_err = min(pos, n - pos)
    got = {
        r["feature"]: (
            r["threshold"],
            r["split_misclass"],
            r["null_misclass"],
            r["importance"],
        )
        for r in entrymod.queries()["ml_feature_importance"](
            spark, SF
        ).collect()
    }
    assert set(got) == set(feats)
    for name, pts in feats.items():
        v = defaultdict(lambda: [0, 0])
        for x, y in pts:
            v[x][y] += 1
        t1 = sum(c[1] for c in v.values())
        t0 = sum(c[0] for c in v.values())
        best = None
        l0 = l1 = 0
        for x in sorted(v):
            l0 += v[x][0]
            l1 += v[x][1]
            if (t0 - l0) + (t1 - l1) == 0:
                continue
            err = min(l0, l1) + min(t0 - l0, t1 - l1)
            if best is None or (err, x) < best:
                best = (err, x)
        err, thr = best
        assert got[name] == (thr, err, null_err, null_err - err), name
        # a split can never do worse than the majority baseline
        assert got[name][3] >= 0
