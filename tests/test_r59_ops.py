"""Round-10 batch 4: python replays for the dup-rate trend, repeat
revenue, embedding isotropy, and the streaming ECE monitor."""

from __future__ import annotations

import hashlib
import math
import re
from collections import defaultdict
from decimal import Decimal

import __spark_entry__ as entrymod

SF = "/root/testdata/sf0.001"


def _tokens(text: str) -> list[str]:
    return [t for t in re.split("[^a-z0-9]+", (text or "").lower()) if t]


def _tdiv(a: int, b: int) -> int:
    """Truncating integer division — Spark `div` and DuckDB `//` both
    truncate toward zero; Python `//` floors, which differs on negatives."""
    q = abs(a) // abs(b)
    return q if (a < 0) == (b < 0) else -q


def test_dup_rate_trend_replays(spark):
    docs = spark.read.parquet(f"{SF}/documents.parquet").collect()
    first = {}
    for r in sorted(docs, key=lambda r: r["doc_id"]):
        fp = hashlib.md5(" ".join(_tokens(r["text"])).encode()).hexdigest()
        first.setdefault(fp, r["doc_id"])
    lo = min(r["doc_id"] for r in docs)
    hi = max(r["doc_id"] for r in docs)
    agg = defaultdict(lambda: [0, 0])
    for r in docs:
        fp = hashlib.md5(" ".join(_tokens(r["text"])).encode()).hexdigest()
        dec = min((r["doc_id"] - lo) * 10 // (hi - lo + 1), 9)
        agg[dec][0] += 1
        agg[dec][1] += r["doc_id"] > first[fp]
    got = {
        r["decile"]: r
        for r in entrymod.queries()["dq_dup_rate_trend"](spark, SF).collect()
    }
    assert set(got) == set(range(10))
    for dec in range(10):
        n, d = agg.get(dec, [0, 0])
        g = got[dec]
        assert g["n_docs"] == n
        assert g["n_dups"] == d
        assert g["dup_milli"] == (d * 1000 // n if n else 0)


def test_repeat_revenue_replays(spark):
    orders = spark.read.parquet(f"{SF}/orders.parquet").collect()
    rows = [
        (
            r["o_custkey"],
            r["o_orderdate"].year * 12 + r["o_orderdate"].month - 1,
            int(Decimal(str(r["o_totalprice"])).quantize(Decimal("0.01")) * 100),
        )
        for r in orders
    ]
    first = {}
    for ck, m, _ in rows:
        first[ck] = min(first.get(ck, m), m)
    agg = defaultdict(lambda: [0, 0, set(), set()])
    for ck, m, cents in rows:
        a = agg[m]
        if m == first[ck]:
            a[0] += cents
            a[2].add(ck)
        else:
            a[1] += cents
            a[3].add(ck)
    got = {
        r["month_idx"]: r
        for r in entrymod.queries()["rel_repeat_revenue"](
            spark, SF
        ).collect()
    }
    assert set(got) == set(agg)
    for m, (new, rep, nc, rc) in agg.items():
        g = got[m]
        assert g["new_rev_cents"] == new
        assert g["repeat_rev_cents"] == rep
        assert g["n_new_customers"] == len(nc)
        assert g["n_repeat_customers"] == len(rc)
        assert g["repeat_share_milli"] == rep * 1000 // (new + rep)


def test_embedding_isotropy_replays(spark):
    rows = spark.read.parquet(f"{SF}/embeddings.parquet").collect()
    vecs = [list(r["embedding"]) for r in rows]
    n = len(vecs)
    dim = len(vecs[0])
    units = []
    for v in vecs:
        nrm = math.sqrt(sum(float(x) * float(x) for x in v))
        units.append(
            [Decimal(str(round(float(x) / nrm, 9))) for x in v]
        )
    S = [sum(u[d] for u in units) for d in range(dim)]
    s2 = float(sum(x * x for x in S))
    t = float(sum(x * x for u in units for x in u))
    [g] = entrymod.queries()["ml_embedding_isotropy"](spark, SF).collect()
    assert g["n_vectors"] == n
    assert g["dim"] == dim
    assert abs(g["sumvec_norm2"] - round(s2, 4)) < 1e-6
    assert abs(g["avg_pair_cos"] - round((s2 - t) / (n * (n - 1)), 6)) < 2e-6


def test_stream_ece_monitor_replays(spark):
    events = spark.read.parquet(f"{SF}/events.parquet").collect()
    cents = [int(round(r["value"] * 100)) for r in events]
    lo, hi = min(cents), max(cents)
    days = defaultdict(lambda: defaultdict(lambda: [0, 0, 0]))
    for r, c in zip(events, cents):
        day = r["ts"].replace(hour=0, minute=0, second=0, microsecond=0)
        p = 500000 if hi == lo else (c - lo) * 1000000 // (hi - lo)
        b = days[day][min(p // 100000, 9)]
        b[0] += 1
        b[1] += p
        b[2] += r["event_type"] == "purchase"
    got = {
        r["day"]: r
        for r in entrymod.queries()["stream_ece_monitor"](
            spark, SF
        ).collect()
    }
    assert set(got) == set(days)
    for day, bins in days.items():
        n = sum(b[0] for b in bins.values())
        pos = sum(b[2] for b in bins.values())
        ece = sum(abs(b[1] - 1000000 * b[2]) for b in bins.values()) // n
        g = got[day]
        assert g["n"] == n
        assert g["pos"] == pos
        assert g["ece_micro"] == ece


def test_srm_check_replays(spark):
    events = spark.read.parquet(f"{SF}/events.parquet").collect()
    arms = defaultdict(lambda: [0, 0])
    seen = set()
    for r in events:
        key = (r["event_type"], r["user_id"])
        if key in seen:
            continue
        seen.add(key)
        arm = (
            int(
                hashlib.md5(f"srm|{r['user_id']}".encode()).hexdigest()[:12],
                16,
            )
            % 2
        )
        arms[r["event_type"]][arm] += 1
    got = {
        r["event_type"]: r
        for r in entrymod.queries()["ab_srm_check"](spark, SF).collect()
    }
    assert set(got) == set(arms)
    for t, (na, nb) in arms.items():
        g = got[t]
        assert (g["n_a"], g["n_b"]) == (na, nb)
        chi2 = (na - nb) ** 2 * 1000 // (na + nb)
        assert g["chi2_milli"] == chi2
        assert g["srm_alarm"] == (chi2 > 3841)


def test_epoch_shuffle_quality_replays(spark):
    docs = spark.read.parquet(f"{SF}/documents.parquet").collect()
    def h(seed, did):
        return hashlib.md5(f"{seed}|{did}".encode()).hexdigest()[:12]

    shards = defaultdict(list)
    for r in docs:
        shard = int(h("shard", r["doc_id"]), 16) % 8
        shards[shard].append(r["doc_id"])
    got = {
        r["shard"]: r
        for r in entrymod.queries()["p_epoch_shuffle_quality"](
            spark, SF
        ).collect()
    }
    assert set(got) == set(shards)
    for shard, ids in shards.items():
        o1 = sorted(ids, key=lambda d: (h("ep1", d), d))
        o2 = sorted(ids, key=lambda d: (h("ep2", d), d))
        r1 = {d: i + 1 for i, d in enumerate(o1)}
        r2 = {d: i + 1 for i, d in enumerate(o2)}
        n = len(ids)
        sum_d2 = sum((r1[d] - r2[d]) ** 2 for d in ids)
        g = got[shard]
        assert g["n"] == n
        assert g["sum_d2"] == sum_d2
        nn = n * (n * n - 1)
        expect = 1000 if n < 2 else _tdiv((nn - 6 * sum_d2) * 1000, nn)
        assert g["spearman_milli"] == expect
        # a keyed shuffle should decorrelate epochs almost entirely
        assert abs(g["spearman_milli"]) < 300


def test_abc_migration_replays(spark):
    orders = spark.read.parquet(f"{SF}/orders.parquet").collect()
    rows = [
        (
            r["o_custkey"],
            int(r["o_orderdate"].timestamp() * 1_000_000) // 86400000000,
            int(round(r["o_totalprice"] * 100)),
        )
        for r in orders
    ]
    days = [d for _, d, _ in rows]
    cut = (min(days) + max(days)) // 2 + 1

    def classify(half_rows):
        rev = defaultdict(int)
        for ck, cents in half_rows:
            rev[ck] += cents
        total = sum(rev.values())
        out, cum = {}, 0
        for ck in sorted(rev, key=lambda k: (-rev[k], k)):
            if cum * 100 < total * 80:
                out[ck] = "A"
            elif cum * 100 < total * 95:
                out[ck] = "B"
            else:
                out[ck] = "C"
            cum += rev[ck]
        return out, rev

    c1, _ = classify([(ck, c) for ck, d, c in rows if d < cut])
    c2, rev2 = classify([(ck, c) for ck, d, c in rows if d >= cut])
    mat = defaultdict(lambda: [0, 0])
    for ck in set(c1) | set(c2):
        key = (c1.get(ck, "N"), c2.get(ck, "N"))
        mat[key][0] += 1
        mat[key][1] += rev2.get(ck, 0)
    got = {
        (r["abc_h1"], r["abc_h2"]): r
        for r in entrymod.queries()["rel_abc_migration"](
            spark, SF
        ).collect()
    }
    assert set(got) == set(mat)
    for key, (n, cents) in mat.items():
        assert got[key]["n_customers"] == n
        assert got[key]["h2_cents"] == cents


def test_kendall_tau_replays(spark):
    docs = spark.read.parquet(f"{SF}/documents.parquet").collect()
    cells = defaultdict(int)
    n = 0
    for r in docs:
        toks = _tokens(r["text"])
        bx = min(r["n_chars"] // 50, 19)
        ttr = (
            len(set(toks)) * 1000 // len(toks) if toks else 0
        )
        by = min(ttr // 100, 9)
        cells[(bx, by)] += 1
        n += 1
    conc = sum(
        ca * cb
        for (ax, ay), ca in cells.items()
        for (bx, by), cb in cells.items()
        if bx > ax and by > ay
    )
    disc = sum(
        ca * cb
        for (ax, ay), ca in cells.items()
        for (bx, by), cb in cells.items()
        if bx > ax and by < ay
    )
    [g] = entrymod.queries()["ml_kendall_tau"](spark, SF).collect()
    assert g["n"] == n
    assert g["n_cells"] == len(cells)
    assert g["concordant"] == conc
    assert g["discordant"] == disc
    assert g["tau_a_micro"] == _tdiv((conc - disc) * 2 * 1000000, n * (n - 1))


def test_bootstrap_f1_replays(spark):
    events = spark.read.parquet(f"{SF}/events.parquet").collect()
    from jigsaw_spark.plans.agg import _BOOT_B, _POIS_CDF

    cents = [int(round(r["value"] * 100)) for r in events]
    lo, hi = min(cents), max(cents)
    rows = []
    for r, c in zip(events, cents):
        pred = (
            1
            if hi == lo or (c - lo) * 1000000 // (hi - lo) >= 500000
            else 0
        )
        y = 1 if r["event_type"] == "purchase" else 0
        h = hashlib.md5(f"bootf1|{r['event_id']}".encode()).hexdigest()
        rows.append((y, pred, h))

    def wt(h, b):
        byte = int(h[2 * b : 2 * b + 2], 16)
        return next(
            (k for k, cdf in enumerate(_POIS_CDF) if byte / 256.0 < cdf), 7
        )

    f1s = {}
    for b in range(_BOOT_B):
        tp = sum(wt(h, b) for y, p, h in rows if p == 1 and y == 1)
        fp = sum(wt(h, b) for y, p, h in rows if p == 1 and y == 0)
        fn = sum(wt(h, b) for y, p, h in rows if p == 0 and y == 1)
        f1s[b] = (
            tp,
            fp,
            fn,
            2 * tp * 1000 // (2 * tp + fp + fn) if 2 * tp + fp + fn else 0,
        )
    got = {
        r["b"]: r
        for r in entrymod.queries()["ml_bootstrap_f1"](spark, SF).collect()
    }
    assert set(got) == set(f1s)
    lo_f = min(v[3] for v in f1s.values())
    hi_f = max(v[3] for v in f1s.values())
    mean_f = sum(v[3] for v in f1s.values()) // len(f1s)
    for b, (tp, fp, fn, f1) in f1s.items():
        g = got[b]
        assert (g["tp"], g["fp"], g["fn"], g["f1_milli"]) == (tp, fp, fn, f1)
        assert g["f1_lo_milli"] == lo_f
        assert g["f1_hi_milli"] == hi_f
        assert g["f1_mean_milli"] == mean_f


def test_recency_weights_replays(spark):
    orders = spark.read.parquet(f"{SF}/orders.parquet").collect()
    days = [
        int(r["o_orderdate"].timestamp() * 1_000_000) // 86400000000
        for r in orders
    ]
    mday = max(days)
    agg = defaultdict(lambda: [0, 0])
    for r, day in zip(orders, days):
        m = r["o_orderdate"].year * 12 + r["o_orderdate"].month - 1
        w = 1000000 // (1 << min((mday - day) // 30, 40))
        agg[m][0] += 1
        agg[m][1] += w
    tw = sum(a[1] for a in agg.values())
    got = {
        r["month_idx"]: r
        for r in entrymod.queries()["p_recency_weights"](
            spark, SF
        ).collect()
    }
    assert set(got) == set(agg)
    for m, (n, w) in agg.items():
        g = got[m]
        assert g["n_orders"] == n
        assert g["w_sum"] == w
        assert g["share_micro"] == w * 1000000 // tw
    # the decay actually decays: earliest month's share beneath latest's
    first, last = min(agg), max(agg)
    assert got[first]["share_micro"] <= got[last]["share_micro"] or (
        agg[first][0] > 10 * agg[last][0]
    )
