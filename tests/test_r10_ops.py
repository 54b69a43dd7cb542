"""Round-5 batches 4-5: semantic checks against pure-Python references
(triangle enumeration, neighbor-set algebra, basket counting, ACF
replay, systematic-rate law, Flesch recompute, EMD replay, confusion
identities, TWAP replay, bin-packing replay)."""

from __future__ import annotations

import math
import re
from collections import defaultdict

from pyspark.sql import functions as F

import __spark_entry__ as entrymod

SF = "/root/testdata/sf0.001"


def _lsh_pairs(spark):
    from jigsaw_spark.operators.dedup import minhash_lsh_pairs

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    return {
        (r["doc_a"], r["doc_b"])
        for r in minhash_lsh_pairs(
            docs, "doc_id", num_hashes=16, bands=4
        ).collect()
    }


def test_triangles_match_python_enumeration(spark):
    pairs = _lsh_pairs(spark)
    nbr = defaultdict(set)
    for a, b in pairs:
        nbr[a].add(b)
        nbr[b].add(a)
    want = defaultdict(int)
    for a, b in pairs:
        for c in nbr[a] & nbr[b]:
            if b < c:  # a < b < c: count each triangle once
                want[a] += 1
                want[b] += 1
                want[c] += 1
    got = {
        r["node"]: r["n_tri"]
        for r in entrymod.queries()["graph_triangles"](spark, SF).collect()
    }
    assert got == dict(want)


def test_neighbor_jaccard_matches_set_algebra(spark):
    pairs = _lsh_pairs(spark)
    nbr = defaultdict(set)
    for a, b in pairs:
        nbr[a].add(b)
        nbr[b].add(a)
    rows = entrymod.queries()["graph_neighbor_jaccard"](spark, SF).collect()
    assert {(r["doc_a"], r["doc_b"]) for r in rows} == pairs
    for r in rows:
        na, nb = nbr[r["doc_a"]], nbr[r["doc_b"]]
        c = len(na & nb)
        assert (r["n_common"], r["deg_a"], r["deg_b"]) == (
            c,
            len(na),
            len(nb),
        )
        assert r["jaccard_micro"] == 1000000 * c // (len(na) + len(nb) - c)


def test_item_cooccurrence_matches_basket_counts(spark):
    li = spark.read.parquet(f"{SF}/lineitem.parquet")
    baskets = defaultdict(set)
    for r in li.select("l_orderkey", "l_partkey").collect():
        baskets[r["l_orderkey"]].add(r["l_partkey"])
    item_c = defaultdict(int)
    pair_c = defaultdict(int)
    for items in baskets.values():
        s = sorted(items)
        for pk in s:
            item_c[pk] += 1
        for i, p1 in enumerate(s):
            for p2 in s[i + 1 :]:
                pair_c[(p1, p2)] += 1
    n = len(baskets)
    want = {
        (p1, p2): (
            c12,
            item_c[p1],
            item_c[p2],
            c12 * n * 1000000 // (item_c[p1] * item_c[p2]),
        )
        for (p1, p2), c12 in pair_c.items()
        if c12 >= 2
    }
    got = {
        (r["p1"], r["p2"]): (r["c12"], r["c1"], r["c2"], r["lift_micro"])
        for r in entrymod.queries()["rel_item_cooccurrence"](
            spark, SF
        ).collect()
    }
    assert got == want


def test_autocorr_matches_python_replay(spark):
    from jigsaw_spark.plans.registry import _t

    ev = _t(spark, SF, "events").select(
        "event_type",
        F.unix_micros("ts").alias("x"),
        F.round(F.col("value") * 100, 0).cast("bigint").alias("cents"),
    )
    daily = defaultdict(int)
    for r in ev.collect():
        daily[(r["event_type"], r["x"] // 86_400_000_000)] += r["cents"]
    series = defaultdict(list)
    for (et, day), cents in sorted(daily.items()):
        series[et].append(cents // 100)
    want = {}
    for et, ys in series.items():
        mq = sum(ys) // len(ys)
        dv = [y - mq for y in ys]
        sdd = sum(d * d for d in dv)
        for k in (1, 2, 3):
            prs = list(zip(dv[k:], dv[:-k])) if len(dv) > k else []
            num = sum(a * b for a, b in prs)
            acf = (
                round(round(num / sdd, 9), 6) if prs and sdd > 0 else 0.0
            )
            want[(et, k)] = (len(prs), acf)
    got = {
        (r["event_type"], r["k"]): (r["n_pairs"], r["acf"])
        for r in entrymod.queries()["ts_autocorr"](spark, SF).collect()
    }
    assert got == want


def test_systematic_sample_rate_and_determinism(spark):
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    per_source = {
        r["source"]: r["n"]
        for r in docs.groupBy("source").agg(F.count("*").alias("n")).collect()
    }
    q = entrymod.queries()["p_systematic_sample"]
    rows = q(spark, SF).collect()
    counts = defaultdict(int)
    for r in rows:
        counts[r["source"]] += 1
        assert (r["rn"] - 1) % 7 == 0
    assert dict(counts) == {
        s: math.ceil(n / 7) for s, n in per_source.items()
    }
    again = {(r["source"], r["doc_id"]) for r in q(spark, SF).collect()}
    assert again == {(r["source"], r["doc_id"]) for r in rows}


def test_readability_matches_python_recompute(spark):
    rows = entrymod.queries()["text_readability"](spark, SF).collect()
    docs = {
        r["doc_id"]: r["text"]
        for r in spark.read.parquet(f"{SF}/documents.parquet").collect()
    }
    assert {r["doc_id"] for r in rows} == set(docs)
    for r in rows[:50]:
        text = docs[r["doc_id"]]
        w = len([t for t in re.split("[^a-z0-9]+", text.lower()) if t])
        s = max(1, len(re.findall(r"[.!?]+", text)))
        syl = len(re.findall("[aeiouy]+", text.lower()))
        assert (r["n_words"], r["n_sentences"], r["n_syllables"]) == (
            w,
            s,
            syl,
        )
        if w:
            assert (
                r["flesch_milli"]
                == 206835 - (1015 * w) // s - (84600 * syl) // w
            )
        else:
            assert r["flesch_milli"] == 0


def test_tcloseness_matches_emd_replay(spark):
    cust = spark.read.parquet(f"{SF}/customer.parquet").collect()
    vals = [
        (
            r["c_mktsegment"],
            (int(round(r["c_acctbal"] * 100)) + 100000) // 100000,
        )
        for r in cust
    ]
    buckets = sorted({b for _, b in vals})
    m, n = len(buckets), len(vals)
    tot = defaultdict(int)
    grp = defaultdict(lambda: defaultdict(int))
    for seg, b in vals:
        tot[b] += 1
        grp[seg][b] += 1
    want = {}
    for seg, bs in grp.items():
        ng = sum(bs.values())
        cr = cc = sd = 0
        for b in buckets:
            cr += bs.get(b, 0)
            cc += tot[b]
            sd += abs(cr * n - cc * ng)
        emd = 1000000 * sd // ((m - 1) * ng * n) if m > 1 else 0
        want[seg] = (ng, emd)
    got = {
        r["segment"]: (r["n_rows"], r["tcloseness_micro"])
        for r in entrymod.queries()["privacy_tcloseness"](spark, SF).collect()
    }
    assert got == want


def test_confusion_metrics_identities(spark):
    [r] = entrymod.queries()["ml_confusion_metrics"](spark, SF).collect()
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    n_odd = docs.filter(F.col("doc_id") % 2 == 1).count()
    tp, fp, fn, tn = r["tp"], r["fp"], r["fn"], r["tn"]
    assert tp + fp + fn + tn == n_odd
    assert r["precision_micro"] == (
        tp * 1000000 // (tp + fp) if tp + fp else 0
    )
    assert r["recall_micro"] == (tp * 1000000 // (tp + fn) if tp + fn else 0)
    assert r["accuracy_micro"] == (tp + tn) * 1000000 // n_odd
    p, q = r["precision_micro"], r["recall_micro"]
    assert r["f1_micro"] == (2 * p * q // (p + q) if p + q else 0)


def test_twap_matches_python_replay(spark):
    from jigsaw_spark.plans.registry import _t

    ev = _t(spark, SF, "events").select(
        "event_type",
        F.unix_micros("ts").alias("x"),
        "event_id",
        F.round(F.col("value") * 100, 0).cast("bigint").alias("cents"),
    )
    series = defaultdict(list)
    for r in ev.collect():
        series[r["event_type"]].append((r["x"], r["event_id"], r["cents"]))
    want = {}
    for et, obs in series.items():
        obs.sort()
        segs = [
            (obs[i][2], obs[i + 1][0] - obs[i][0])
            for i in range(len(obs) - 1)
        ]
        td = sum(d for _, d in segs)
        ws = sum(c * d for c, d in segs)
        want[et] = (len(segs), td, ws // td if td > 0 else 0)
    got = {
        r["event_type"]: (r["n_segments"], r["total_dur_us"], r["twap_cents"])
        for r in entrymod.queries()["ts_twap"](spark, SF).collect()
    }
    assert got == want


def test_compaction_bins_match_packing_replay(spark):
    from jigsaw_spark.plans.layout import _COMPACT_TARGET

    rows = entrymod.queries()["layout_compaction_bins"](spark, SF).collect()
    orders = spark.read.parquet(f"{SF}/orders.parquet").collect()
    import hashlib

    files = defaultdict(int)
    for r in orders:
        h = hashlib.md5(f"cfile|{r['o_orderkey']}".encode()).hexdigest()
        files[(r["o_orderpriority"], int(h[:12], 16) % 128)] += 1
    want = defaultdict(lambda: [0, 0, 10**9, -1])
    by_part = defaultdict(list)
    for (part, fid), n in files.items():
        by_part[part].append((fid, n * 100))
    for part, fs in by_part.items():
        cum = 0
        for fid, b in sorted(fs):
            bin_id = cum // _COMPACT_TARGET
            cum += b
            slot = want[(part, bin_id)]
            slot[0] += 1
            slot[1] += b
            slot[2] = min(slot[2], fid)
            slot[3] = max(slot[3], fid)
    got = {
        (r["part"], r["bin_id"]): [
            r["n_files"],
            r["bytes"],
            r["first_file"],
            r["last_file"],
        ]
        for r in rows
    }
    assert got == {k: v for k, v in want.items()}
