"""Round-5 batches 2-3: semantic checks against pure-Python references
(Hilbert curve replay, set-algebra overlap, BFS replay, credit
conservation, chi-square reconstruction, histogram bounds)."""

from __future__ import annotations

from pyspark.sql import functions as F

import __spark_entry__ as entrymod

SF = "/root/testdata/sf0.001"


def _hilbert_xy2d(n: int, x: int, y: int) -> int:
    d = 0
    s = n // 2
    while s > 0:
        rx = 1 if (x & s) > 0 else 0
        ry = 1 if (y & s) > 0 else 0
        d += s * s * ((3 * rx) ^ ry)
        if ry == 0:
            if rx == 1:
                x = n - 1 - x
                y = n - 1 - y
            x, y = y, x
        s //= 2
    return d


def test_hilbert_stages_match_python_reference(spark):
    """The 8-stage SQL walk must equal the classic xy2d for every cell
    of a 32-point sample grid, and adjacent d values must be grid
    neighbors (the locality property Morton lacks)."""
    from jigsaw_spark.plans.layout import _HIL_N, _hilbert_stage_exprs

    pts = [(x, y) for x in range(0, 256, 37) for y in range(0, 256, 41)]
    df = spark.createDataFrame(pts, "px int, py int").selectExpr(
        "px", "py",
        "CAST(px AS BIGINT) AS x", "CAST(py AS BIGINT) AS y",
        "CAST(0 AS BIGINT) AS d",
    )
    s = _HIL_N // 2
    while s > 0:
        exprs = _hilbert_stage_exprs(s, "px")
        df = df.selectExpr(exprs[0], "py", *exprs[1:])
        s //= 2
    got = {(r["px"], r["py"]): r["d"] for r in df.collect()}
    for (x, y), d in got.items():
        assert d == _hilbert_xy2d(_HIL_N, x, y), (x, y)

    # full-curve adjacency on a small grid: consecutive d = unit step
    n = 16
    inv = {_hilbert_xy2d(n, x, y): (x, y) for x in range(n) for y in range(n)}
    for d in range(n * n - 1):
        (x0, y0), (x1, y1) = inv[d], inv[d + 1]
        assert abs(x0 - x1) + abs(y0 - y1) == 1


def test_bitmap_overlap_matches_set_algebra(spark):
    got = {
        (r["p1"], r["p2"]): (r["n1"], r["n2"], r["n_both"], r["n_union"])
        for r in entrymod.queries()["agg_bitmap_overlap"](spark, SF).collect()
    }
    orders = spark.read.parquet(f"{SF}/orders.parquet").select(
        "o_orderpriority", "o_custkey"
    )
    sets: dict[str, set] = {}
    for r in orders.collect():
        sets.setdefault(r["o_orderpriority"], set()).add(r["o_custkey"])
    ps = sorted(sets)
    assert len(got) == len(ps) * (len(ps) - 1) // 2
    for i, p1 in enumerate(ps):
        for p2 in ps[i + 1 :]:
            a, b = sets[p1], sets[p2]
            assert got[(p1, p2)] == (
                len(a),
                len(b),
                len(a & b),
                len(a | b),
            ), (p1, p2)


def test_bfs_layers_match_python_bfs(spark):
    from jigsaw_spark.operators.dedup import minhash_lsh_pairs

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    pairs = minhash_lsh_pairs(docs, "doc_id", num_hashes=16, bands=4).collect()
    adj: dict[int, set] = {}
    for r in pairs:
        adj.setdefault(r["doc_a"], set()).add(r["doc_b"])
        adj.setdefault(r["doc_b"], set()).add(r["doc_a"])
    seeds = sorted(v for v in adj if v % 97 == 0)
    dist = {v: 0 for v in seeds}
    frontier = list(seeds)
    for depth in range(1, 5):
        nxt = []
        for v in frontier:
            for w in adj.get(v, ()):
                if w not in dist:
                    dist[w] = depth
                    nxt.append(w)
        frontier = nxt
    got = {
        r["node"]: r["dist"]
        for r in entrymod.queries()["graph_bfs_layers"](spark, SF).collect()
    }
    assert got == dist


def test_attribution_linear_conserves_credit(spark):
    """Summed micro-credit over clicks must equal, per purchase,
    n * (1e6 // n) — floor division's exact total."""
    rows = entrymod.queries()["rel_attribution_linear"](spark, SF).collect()
    total_credit = sum(r["credit_micro"] for r in rows)
    ev = spark.read.parquet(f"{SF}/events.parquet").select(
        "user_id", "event_id", "ts", "event_type"
    )
    clicks: dict[int, list] = {}
    purchases: dict[int, list] = {}
    for r in ev.collect():
        if r["event_type"] == "click":
            clicks.setdefault(r["user_id"], []).append(r["ts"])
        elif r["event_type"] == "purchase":
            purchases.setdefault(r["user_id"], []).append(r["ts"])
    expect = 0
    for uid, pts in purchases.items():
        cl = clicks.get(uid, [])
        for pt in pts:
            n = sum(1 for ct in cl if ct < pt)
            if n:
                expect += n * (1000000 // n)
    assert total_credit == expect


def test_chi2_terms_reconstruct_statistic(spark):
    rows = entrymod.queries()["ab_chi2_independence"](spark, SF).collect()
    n = sum(r["observed"] for r in rows)
    # expectations sum back to ~n (each cell rounded to 4 decimals)
    assert abs(sum(r["expected"] for r in rows) - n) < 0.01 * len(rows)
    assert all(r["chi2_term"] >= 0 for r in rows)
    types = {r["event_type"] for r in rows}
    variants = {r["variant"] for r in rows}
    assert len(rows) == len(types) * len(variants)


def test_log2_histogram_bounds_contain_values(spark):
    rows = entrymod.queries()["agg_log2_histogram"](spark, SF).collect()
    for r in rows:
        assert r["bucket_lo"] == 2 ** r["bucket"]
        assert r["bucket_hi"] == 2 ** (r["bucket"] + 1) - 1
        # mean of the bucket's values must lie inside the bucket
        mean = r["sum_cents"] / r["n"]
        assert r["bucket_lo"] <= mean <= r["bucket_hi"]


def test_interval_overlap_bounded_by_session_span(spark):
    rows = entrymod.queries()["j9_interval_overlap"](spark, SF).collect()
    assert rows
    for r in rows:
        assert 0 <= r["overlap_secs"] <= r["n_windows"] * 8 * 3600 + 1


def test_changepoint_matches_brute_force(spark):
    """The windowed argmax must equal a Python scan over every split."""
    import collections

    from jigsaw_spark.session import load_table

    ev = load_table(spark, SF, "events").select(
        "event_type",
        (F.unix_micros("ts") / F.lit(86400000000)).cast("bigint").alias("d"),
        F.round(F.col("value") * 100, 0).cast("bigint").alias("c"),
    )
    daily: dict[str, dict[int, int]] = collections.defaultdict(
        lambda: collections.defaultdict(int)
    )
    for r in ev.collect():
        daily[r["event_type"]][r["d"]] += r["c"]

    got = {
        r["event_type"]: (r["split_day"], r["gain_dollars2"])
        for r in entrymod.queries()["ts_best_changepoint"](spark, SF).collect()
    }
    for etype, series in daily.items():
        days = sorted(series)
        ys = [series[d] for d in days]
        n, tot = len(ys), float(sum(ys))
        best = None
        cs = 0
        for i in range(1, n):
            cs += ys[i - 1]
            # replicate Spark's IEEE operation order exactly: double(cs)
            # squared, not exact-int-then-divide (they differ in ulps)
            cf = float(cs)
            gain = round(
                round(
                    cf * cf / i + (tot - cf) * (tot - cf) / (n - i)
                    - tot * tot / n,
                    6,
                ),
                2,
            )
            if best is None or (-gain, days[i - 1]) < best:
                best = (-gain, days[i - 1])
        exp_day = best[1]
        exp_gain = round(-best[0] / 10000.0, 2)
        assert got[etype] == (exp_day, exp_gain), etype


def test_manifest_prune_clustered_beats_hash(spark):
    # sf0.01: the smoke SF has only ~150 custkeys, which collapses the
    # div-200 clustered layout to a single file — no pruning to observe
    sf = "/root/testdata/sf0.01"
    rows = entrymod.queries()["layout_manifest_prune"](spark, sf).collect()
    by = {(r["pred"], r["layout"]): r for r in rows}
    assert len(by) == 6
    # the clustered layout must prune files on its cluster key; random
    # placement scans everything (min/max spans the whole domain)
    ck = by[("custkey_100_300", "clustered")]
    h = by[("custkey_100_300", "hash")]
    assert ck["files_scanned"] < ck["n_files"]
    assert h["files_scanned"] == h["n_files"]
    assert ck["rows_scanned"] < h["rows_scanned"]
    # pruning is SOUND: scanned rows always cover the true matches
    orders = spark.read.parquet(f"{sf}/orders.parquet")
    true_matches = orders.filter(
        (F.col("o_custkey") >= 100) & (F.col("o_custkey") <= 300)
    ).count()
    assert ck["rows_scanned"] >= true_matches


def test_stream_sliding_topk_ranks_are_dense(spark):
    rows = entrymod.queries()["stream_sliding_topk"](spark, SF).collect()
    assert rows
    by_w: dict = {}
    for r in rows:
        by_w.setdefault(r["wstart"], []).append(r["rank"])
    for w, ranks in by_w.items():
        assert sorted(ranks) == list(range(1, len(ranks) + 1)), w
