"""Round-5 batch 8: semantic checks against pure-Python references
(assortativity recompute, modularity identity, Theil-Sen replay,
Markov row-normalization laws, IQR fence replay)."""

from __future__ import annotations

import math
from collections import defaultdict

from pyspark.sql import functions as F

import __spark_entry__ as entrymod

SF = "/root/testdata/sf0.001"


def _daily_dollars(spark):
    from jigsaw_spark.plans.registry import _t

    ev = _t(spark, SF, "events").select(
        "event_type",
        F.unix_micros("ts").alias("x"),
        F.round(F.col("value") * 100, 0).cast("bigint").alias("cents"),
    )
    daily = defaultdict(int)
    for r in ev.collect():
        daily[(r["event_type"], r["x"] // 86_400_000_000)] += r["cents"]
    return daily


def test_assortativity_matches_recompute(spark):
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
    deg = defaultdict(int)
    for s, _ in edges:
        deg[s] += 1
    xs = [(deg[u], deg[v]) for u, v in edges]
    ne = len(xs)
    mx = sum(x for x, _ in xs) // ne
    my = sum(y for _, y in xs) // ne
    sxy = sum((x - mx) * (y - my) for x, y in xs)
    sxx = sum((x - mx) ** 2 for x, _ in xs)
    syy = sum((y - my) ** 2 for _, y in xs)
    [r] = entrymod.queries()["graph_assortativity"](spark, SF).collect()
    assert (r["n_edges"], r["sxy"], r["sxx"], r["syy"]) == (
        ne,
        sxy,
        sxx,
        syy,
    )
    if sxx > 0 and syy > 0:
        want = round(
            round(sxy / (math.sqrt(sxx) * math.sqrt(syy)), 9), 6
        )
        assert r["assortativity"] == want
        assert -1.0 <= r["assortativity"] <= 1.0


def test_modularity_identity(spark):
    from jigsaw_spark.operators.dedup import simhash_pairs

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    pairs = [
        (r["doc_a"], r["doc_b"])
        for r in simhash_pairs(docs, "doc_id", max_hamming=2)
        .select("doc_a", "doc_b")
        .collect()
    ]
    # python union-find components
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    comp = {n: find(n) for n in parent}
    m = len(pairs)
    ec = defaultdict(int)
    for a, b in pairs:
        if comp[a] == comp[b]:
            ec[comp[a]] += 1
    dc = defaultdict(int)
    for a, b in pairs:
        dc[comp[a]] += 1
        dc[comp[b]] += 1
    q_num = sum(4 * m * ec[c] - dc[c] * dc[c] for c in dc)
    q_den = 4 * m * m
    [r] = entrymod.queries()["graph_modularity"](spark, SF).collect()
    assert (r["q_num"], r["q_den"]) == (q_num, q_den)
    # every intra-component edge counted: here components ARE the
    # connected components, so ec must sum to m
    assert sum(ec.values()) == m
    assert r["modularity"] == round(round(q_num / q_den, 9), 6)


def test_theil_sen_matches_replay(spark):
    daily = _daily_dollars(spark)
    series = defaultdict(list)
    for (et, day), cents in sorted(daily.items()):
        series[et].append((day, cents // 100))
    want = {}
    for et, pts in series.items():
        slopes = []
        for i in range(len(pts)):
            for j in range(i + 1, len(pts)):
                di, yi = pts[i]
                dj, yj = pts[j]
                slopes.append((yj - yi, dj - di, di, dj))
        slopes.sort(key=lambda s: (s[0] / s[1], s[0], s[1], s[2], s[3]))
        np_ = len(slopes)
        dy, dx, _, _ = slopes[(np_ + 1) // 2 - 1]
        milli = (1000 * dy) // dx if dy >= 0 else -((-1000 * dy) // dx)
        want[et] = (np_, dy, dx, milli)
    got = {
        r["event_type"]: (
            r["n_pairs"],
            r["slope_dy"],
            r["slope_dx"],
            r["slope_milli"],
        )
        for r in entrymod.queries()["ts_theil_sen"](spark, SF).collect()
    }
    assert got == want


def test_markov_transitions_laws(spark):
    from jigsaw_spark.plans.registry import _t

    rows = entrymod.queries()["rel_markov_transitions"](spark, SF).collect()
    ev = _t(spark, SF, "events").select(
        "user_id", "event_type", F.unix_micros("ts").alias("x"), "event_id"
    )
    per_user = defaultdict(list)
    for r in ev.collect():
        per_user[r["user_id"]].append((r["x"], r["event_id"], r["event_type"]))
    want = defaultdict(int)
    for obs in per_user.values():
        obs.sort()
        for (x0, _, t0), (x1, _, t1) in zip(obs, obs[1:]):
            if x1 - x0 < 1_800_000_000:
                want[(t0, t1)] += 1
    got = {(r["from_type"], r["to_type"]): r["n"] for r in rows}
    assert got == dict(want)
    outs = defaultdict(int)
    for (f, _), n in want.items():
        outs[f] += n
    for r in rows:
        assert (
            r["p_micro"] == r["n"] * 1000000 // outs[r["from_type"]]
        )


def test_anomaly_iqr_matches_fence_replay(spark):
    daily = _daily_dollars(spark)
    series = defaultdict(dict)
    for (et, day), cents in daily.items():
        series[et][day] = cents
    want = {}
    for et, days in series.items():
        ys = sorted(days.values())
        n = len(ys)
        p25 = ys[-(-25 * n // 100) - 1]
        p75 = ys[-(-75 * n // 100) - 1]
        for day, y in days.items():
            lo_w, hi_w = 3 * p25 - p75, 3 * p75 - p25
            lo_a, hi_a = 5 * p25 - 3 * p75, 5 * p75 - 3 * p25
            if 2 * y < lo_w or 2 * y > hi_w:
                want[(et, day)] = (
                    y,
                    lo_w,
                    hi_w,
                    -1 if 2 * y < lo_w else 1,
                    2 if (2 * y < lo_a or 2 * y > hi_a) else 1,
                )
    got = {
        (r["event_type"], r["day_id"]): (
            r["y_cents"],
            r["lo2_watch"],
            r["hi2_watch"],
            r["direction"],
            r["severity"],
        )
        for r in entrymod.queries()["ts_anomaly_iqr"](spark, SF).collect()
    }
    assert got == want
