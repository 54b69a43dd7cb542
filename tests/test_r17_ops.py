"""Round-5 batch 11: semantic checks against pure-Python references
(KS statistic replay, skew arithmetic, dow anchor, M4 bucket replay,
FIFO conservation laws)."""

from __future__ import annotations

from collections import defaultdict

from pyspark.sql import functions as F

import __spark_entry__ as entrymod

SF = "/root/testdata/sf0.001"


def _events(spark):
    from jigsaw_spark.plans.registry import _t

    return _t(spark, SF, "events").select(
        "event_type",
        "user_id",
        F.unix_micros("ts").alias("x"),
        "event_id",
        F.round(F.col("value") * 100, 0).cast("bigint").alias("cents"),
    ).collect()


def test_ks_2sample_replay(spark):
    rows = _events(spark)
    sides = defaultdict(lambda: (defaultdict(int), defaultdict(int)))
    for r in rows:
        sides[r["event_type"]][r["user_id"] % 2][r["cents"]] += 1
    want = {}
    for et, (a, b) in sides.items():
        na, nb = sum(a.values()), sum(b.values())
        cua = cub = d = 0
        for c in sorted(set(a) | set(b)):
            cua += a.get(c, 0)
            cub += b.get(c, 0)
            d = max(d, abs(cua * nb - cub * na))
        want[et] = (na, nb, d, 1000 * d // (na * nb))
    got = {
        r["event_type"]: (r["n_a"], r["n_b"], r["d_num"], r["d_milli"])
        for r in entrymod.queries()["dq_ks_2sample"](spark, SF).collect()
    }
    assert got == want


def test_skew_report_arithmetic(spark):
    rows = _events(spark)
    keys = {
        "event_type": lambda r: r["event_type"],
        "user_bucket_1024": lambda r: r["user_id"] % 1024,
        "day": lambda r: r["x"] // 86_400_000_000,
    }
    got = {
        r["key_name"]: (
            r["n_partitions"],
            r["total_rows"],
            r["max_rows"],
            r["skew_milli"],
        )
        for r in entrymod.queries()["dq_skew_report"](spark, SF).collect()
    }
    for name, key in keys.items():
        c = defaultdict(int)
        for r in rows:
            c[key(r)] += 1
        np_, tot, mx = len(c), sum(c.values()), max(c.values())
        assert got[name] == (np_, tot, mx, mx * np_ * 1000 // tot)
        assert got[name][3] >= 1000  # max/avg ratio is always >= 1


def test_dow_hour_matrix_anchor(spark):
    rows = _events(spark)
    want = defaultdict(lambda: [0, 0])
    import datetime

    for r in rows:
        days = r["x"] // 86_400_000_000
        dow = (days + 3) % 7
        # cross-check the anchor against the real calendar: 0 = Monday
        dt = datetime.datetime(1970, 1, 1) + datetime.timedelta(
            microseconds=r["x"]
        )
        assert dow == dt.weekday()
        hour = (r["x"] % 86_400_000_000) // 3_600_000_000
        assert hour == dt.hour
        slot = want[(dow, hour)]
        slot[0] += 1
        slot[1] += r["cents"]
    got = {
        (r["dow"], r["hour"]): [r["n"], r["cents"]]
        for r in entrymod.queries()["rel_dow_hour_matrix"](
            spark, SF
        ).collect()
    }
    assert got == dict(want)


def test_m4_downsample_replay(spark):
    from jigsaw_spark.plans.ts import _M4_W

    rows = _events(spark)
    series = defaultdict(list)
    for r in rows:
        series[r["event_type"]].append((r["x"], r["event_id"], r["cents"]))
    want = {}
    for et, obs in series.items():
        x0 = min(x for x, _, _ in obs)
        x1 = max(x for x, _, _ in obs)
        buckets = defaultdict(list)
        for x, eid, c in obs:
            buckets[((x - x0) * _M4_W) // (x1 - x0 + 1)].append((x, eid, c))
        for bkt, pts in buckets.items():
            pts.sort()
            want[(et, bkt)] = (
                len(pts),
                min(c for _, _, c in pts),
                max(c for _, _, c in pts),
                pts[0][2],
                pts[-1][2],
            )
    got = {
        (r["event_type"], r["bucket"]): (
            r["n"],
            r["min_cents"],
            r["max_cents"],
            r["first_cents"],
            r["last_cents"],
        )
        for r in entrymod.queries()["ts_m4_downsample"](spark, SF).collect()
    }
    assert got == want
    for (_, bkt) in got:
        assert 0 <= bkt < _M4_W


def test_fifo_match_conservation(spark):
    li = spark.read.parquet(f"{SF}/lineitem.parquet").collect()
    merged = defaultdict(int)
    for r in li:
        merged[
            (
                r["l_partkey"],
                0 if r["l_linenumber"] % 2 == 1 else 1,
                r["l_shipdate"],
                r["l_orderkey"],
                r["l_linenumber"],
            )
        ] += int(round(r["l_quantity"]))
    flows = defaultdict(lambda: ([], []))
    for (pk, side, sd, ok, ln), q in merged.items():
        flows[pk][side].append((sd, ok, ln, q))
    rows = entrymod.queries()["rel_fifo_match"](spark, SF).collect()
    got = defaultdict(int)
    by_in = defaultdict(int)
    by_out = defaultdict(int)
    for r in rows:
        assert r["matched_qty"] > 0
        got[r["l_partkey"]] += r["matched_qty"]
        by_in[(r["l_partkey"], r["in_order"], r["in_line"])] += r[
            "matched_qty"
        ]
        by_out[(r["l_partkey"], r["out_order"], r["out_line"])] += r[
            "matched_qty"
        ]
    # caps keyed on (pk, ok, ln): merged flows can still share (ok, ln)
    # across shipdates, so the cap is the SUM over those flows
    cap_in = defaultdict(int)
    cap_out = defaultdict(int)
    for pk, (ins, outs) in flows.items():
        tin = sum(q for *_, q in ins)
        tout = sum(q for *_, q in outs)
        # total matched = min(total in, total out) — FIFO conservation
        assert got.get(pk, 0) == min(tin, tout), pk
        for sd, ok, ln, q in ins:
            cap_in[(pk, ok, ln)] += q
        for sd, ok, ln, q in outs:
            cap_out[(pk, ok, ln)] += q
    for k, alloc in by_in.items():
        assert alloc <= cap_in[k], k
    for k, alloc in by_out.items():
        assert alloc <= cap_out[k], k
    # per-pair multiset equality against a greedy FIFO simulation
    # (projected to the output's (ok, ln) identity, quantities summed)
    pair_got = defaultdict(int)
    for r in rows:
        pair_got[
            (
                r["l_partkey"],
                r["in_order"],
                r["in_line"],
                r["out_order"],
                r["out_line"],
            )
        ] += r["matched_qty"]
    pair_want = defaultdict(int)
    for pk, (ins, outs) in flows.items():
        ins_s, outs_s = sorted(ins), sorted(outs)
        i = j = 0
        ri = ins_s[0][3] if ins_s else 0
        rj = outs_s[0][3] if outs_s else 0
        while i < len(ins_s) and j < len(outs_s):
            m = min(ri, rj)
            if m > 0:
                pair_want[
                    (
                        pk,
                        ins_s[i][1],
                        ins_s[i][2],
                        outs_s[j][1],
                        outs_s[j][2],
                    )
                ] += m
            ri -= m
            rj -= m
            if ri == 0:
                i += 1
                if i < len(ins_s):
                    ri = ins_s[i][3]
            if rj == 0:
                j += 1
                if j < len(outs_s):
                    rj = outs_s[j][3]
    assert dict(pair_got) == dict(pair_want)
