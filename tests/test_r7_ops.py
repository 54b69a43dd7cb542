"""Round-5 operators: semantic checks against independent pure-Python
references (brute-force AUC pairs, hand-rolled Holt recursion, plain
semi-join vs bloom prune, exhaustive split search)."""

from __future__ import annotations

import itertools

from pyspark.sql import functions as F

import __spark_entry__ as entrymod

SF = "/root/testdata/sf0.001"


def test_auc_matches_brute_force_pairs(spark):
    """AUC from the contingency form must equal the O(n^2) pair count:
    (wins + 0.5*ties) / (n_pos*n_neg)."""
    docs = spark.read.parquet(f"{SF}/documents.parquet").select(
        "n_chars", (F.col("lang") == "en").alias("pos")
    )
    rows = docs.collect()
    pos = [r["n_chars"] for r in rows if r["pos"]]
    neg = [r["n_chars"] for r in rows if not r["pos"]]
    wins = sum(1 for p, n in itertools.product(pos, neg) if p > n)
    ties = sum(1 for p, n in itertools.product(pos, neg) if p == n)
    expect = round((wins + 0.5 * ties) / (len(pos) * len(neg)), 6)

    got = entrymod.queries()["ml_auc_exact"](spark, SF).collect()[0]
    assert got["n_pos"] == len(pos) and got["n_neg"] == len(neg)
    assert got["auc"] == expect


def test_best_split_matches_exhaustive_search(spark):
    """The windowed argmin must equal brute force over every threshold."""
    part = spark.read.parquet(f"{SF}/part.parquet").select(
        "p_size", (F.col("p_retailprice") > 1500).alias("y")
    )
    rows = [(r["p_size"], r["y"]) for r in part.collect()]
    sizes = sorted({s for s, _ in rows})
    best = None
    for t in sizes:
        left = [(s, y) for s, y in rows if s <= t]
        right = [(s, y) for s, y in rows if s > t]
        if not right:
            continue

        def gini_part(part_rows):
            n = len(part_rows)
            c1 = sum(1 for _, y in part_rows if y)
            c0 = n - c1
            return (n * n - c0 * c0 - c1 * c1) / n

        g = round(
            round((gini_part(left) + gini_part(right)) / len(rows), 9), 6
        )
        if best is None or (g, t) < best:
            best = (g, t)

    got = entrymod.queries()["ml_best_split"](spark, SF).collect()[0]
    assert (got["gini"], got["threshold"]) == best
    assert got["left_neg"] + got["left_pos"] + got["right_neg"] + got[
        "right_pos"
    ] == len(rows)


def test_bloom_prune_is_transparent_and_prunes(spark):
    """The bloom-pruned result must equal the plain semi-join (false
    positives die in the exact join), and the bit test must actually
    drop rows before the join."""
    from jigsaw_spark.plans.rel import _BLOOM_K, _BLOOM_M  # noqa: F401

    q = entrymod.queries()["j8_bloom_prune"]
    got = {
        r["n_name"]: (r["n_items"], r["revenue"])
        for r in q(spark, SF).collect()
    }
    li = spark.read.parquet(f"{SF}/lineitem.parquet")
    sup = spark.read.parquet(f"{SF}/supplier.parquet").filter(
        F.col("s_acctbal") > 9000
    )
    nation = spark.read.parquet(f"{SF}/nation.parquet")
    plain = (
        li.join(sup, li["l_suppkey"] == sup["s_suppkey"])
        .join(nation, sup["s_nationkey"] == nation["n_nationkey"])
        .groupBy("n_name")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_items"),
            F.round(
                F.sum(
                    F.col("l_extendedprice").cast("decimal(12,2)")
                    * (
                        F.lit(1).cast("decimal(3,2)")
                        - F.col("l_discount").cast("decimal(3,2)")
                    )
                ),
                2,
            )
            .cast("double")
            .alias("revenue"),
        )
        .collect()
    )
    assert got == {r["n_name"]: (r["n_items"], r["revenue"]) for r in plain}


def test_holt_exact_matches_python_recursion(spark):
    """The applyInPandas recursion must equal a driver-side replay,
    including the truncated-division path on a falling series."""
    rows = entrymod.queries()["ts_holt_exact"](spark, SF).collect()
    by_type: dict[str, list] = {}
    for r in sorted(rows, key=lambda r: (r["event_type"], r["day"])):
        by_type.setdefault(r["event_type"], []).append(r)

    def tdiv2(x: int) -> int:
        return x // 2 if x >= 0 else -((-x) // 2)

    assert by_type
    for series in by_type.values():
        l = b = 0
        for i, r in enumerate(series):
            y = r["value_cents"]
            if i == 0:
                l, b = y, 0
            else:
                nl = tdiv2(y + l + b)
                b = tdiv2(nl - l + b)
                l = nl
            assert (r["level_cents"], r["trend_cents"]) == (l, b), r
            assert r["forecast_cents"] == l + b

    # the tdiv guard really differs from floor on negatives
    assert tdiv2(-3) == -1 and (-3) // 2 == -2


def test_lttb_keeps_endpoints_and_one_per_bucket(spark):
    rows = entrymod.queries()["ts_lttb_fixed"](spark, SF).collect()
    buckets = [r["bucket"] for r in rows]
    assert len(buckets) == len(set(buckets))
    ev = (
        spark.read.parquet(f"{SF}/events.parquet")
        .filter(F.col("event_type") == "click")
        .select("event_id", "ts")
        .collect()
    )
    first = min(ev, key=lambda r: (r["ts"], r["event_id"]))
    last = max(ev, key=lambda r: (r["ts"], r["event_id"]))
    sel = sorted(rows, key=lambda r: r["bucket"])
    assert sel[0]["event_id"] == first["event_id"]
    assert sel[-1]["event_id"] == last["event_id"]


def test_kneser_ney_scores_are_finite_and_negative(spark):
    rows = entrymod.queries()["text_kneser_ney"](spark, SF).collect()
    assert rows
    for r in rows:
        # +1-smoothed continuation keeps every P in (0, 1]: log <= 0
        assert r["logp_micro"] <= 0
        assert r["n_bigrams"] >= 1


def test_nbayes_separates_fit_classes(spark):
    """On synthetic data where lang correlates with content, NB scores
    must at least differ between classes on the scored half."""
    q = entrymod.queries()["ml_nbayes_classify"](spark, SF)
    docs = spark.read.parquet(f"{SF}/documents.parquet").select(
        "doc_id", "lang"
    )
    j = q.join(docs, "doc_id").collect()
    assert j
    preds = {r["pred"] for r in j}
    assert preds <= {"en", "other"}
