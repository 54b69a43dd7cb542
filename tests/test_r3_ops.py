"""Round-3 operator semantics: SemDeDup, boilerplate coverage, profiler,
recursive CTE, stream-static enrichment. The driver gate hash-checks each
against DuckDB at sf0.01; these tests pin the *invariants* the oracle
can't see (symmetry, partitioning-independence, edge rows)."""

from __future__ import annotations

from pyspark.sql import functions as F

from tests.conftest import SF_SMOKE


def test_semantic_dedup_invariants(spark):
    from jigsaw_spark.operators.dedup import semantic_dedup
    from jigsaw_spark.session import load_table

    emb = load_table(spark, SF_SMOKE, "embeddings")
    centroids = [
        (r["vec_id"], list(r["embedding"]))
        for r in emb.filter(F.col("vec_id") < 4).collect()
    ]
    out = semantic_dedup(emb, centroids, threshold=0.3).cache()
    n_in = emb.count()
    rows = out.collect()
    # one verdict per input row
    assert len(rows) == n_in
    by_id = {r["vec_id"]: r for r in rows}
    for r in rows:
        if r["is_dup"]:
            keeper = by_id[r["dup_of"]]
            # dup points at a LOWER key in the SAME cell
            assert r["dup_of"] < r["vec_id"]
            assert keeper["cell"] == r["cell"]
        else:
            assert r["dup_of"] is None
    # at least the exact self-duplicate case: identical vectors must pair
    dup_emb = emb.unionByName(
        emb.filter(F.col("vec_id") == 0).withColumn("vec_id", F.lit(10_000))
    )
    out2 = semantic_dedup(dup_emb, centroids, threshold=0.999)
    clone = out2.filter(F.col("vec_id") == 10_000).collect()[0]
    assert clone["is_dup"] and clone["dup_of"] == 0
    out.unpersist()


def test_boilerplate_coverage_marks_repeated_grams(spark):
    from jigsaw_spark.operators.text import boilerplate_coverage

    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps"),
            (2, "the quick brown cat sits"),
            (3, "the quick brown dog runs"),
            (4, "completely different words here"),
            (5, "xy"),  # < n tokens → dropped, not a reversed sequence()
        ],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: r
        for r in boilerplate_coverage(
            docs, "doc_id", "text", n=3, min_docs=3
        ).collect()
    }
    # 'the quick brown' appears in 3 docs → boilerplate for docs 1-3
    for d in (1, 2, 3):
        assert out[d]["n_boiler"] == 1 and out[d]["n_grams"] == 3
    assert out[4]["n_boiler"] == 0 and not out[4]["is_boiler"]
    assert 5 not in out


def test_profile_columns_exact_counts(spark):
    from jigsaw_spark.operators.aggregates import profile_columns

    df = spark.createDataFrame(
        [(1, "a"), (2, None), (2, "b"), (None, "b")],
        "k long, s string",
    )
    out = {r["col_name"]: r for r in profile_columns(df, ["k", "s"]).collect()}
    assert out["k"]["n_rows"] == 4 and out["k"]["n_nulls"] == 1
    assert out["k"]["n_distinct"] == 2
    # numeric min/max computed on the native type, stringified after
    assert out["k"]["min_val"] == "1" and out["k"]["max_val"] == "2"
    assert out["s"]["n_distinct"] == 2 and out["s"]["n_nulls"] == 1


def test_recursive_rollup_matches_closed_form(spark):
    """The recursive climb's terminal digit equals the closed-form first
    digit; totals must agree with a plain groupBy on that expression."""
    from jigsaw_spark.plans.queries import QUERIES

    got = {
        r["root_digit"]: (r["n_orders"], r["total_price"])
        for r in QUERIES["rel_recursive_rollup"].spark(spark, SF_SMOKE).collect()
    }
    from jigsaw_spark.session import load_table

    orders = load_table(spark, SF_SMOKE, "orders")
    want = {
        r["root_digit"]: (r["n_orders"], r["total_price"])
        for r in orders.groupBy(
            F.expr(
                "CAST(substring(CAST(o_orderkey AS STRING), 1, 1) AS INT)"
            ).alias("root_digit")
        )
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum(F.col("o_totalprice").cast("decimal(18,2)")), 2)
            .cast("double")
            .alias("total_price"),
        )
        .collect()
    }
    assert got == want


def test_enriched_event_counts_batch_stream_parity(spark):
    """The same enrichment plan over a batch frame equals the AvailableNow
    drain (the oracle relies on this parity)."""
    from jigsaw_spark.plans.stream import _EVENT_DIM, stream_static_join
    from jigsaw_spark.session import load_table
    from jigsaw_spark.streaming.ingest import enriched_event_counts

    dim = spark.createDataFrame(
        list(_EVENT_DIM), "event_type string, category string"
    )
    ev = load_table(spark, SF_SMOKE, "events")
    batch = {
        (r["window_start"], r["category"]): (r["n"], r["total_value"])
        for r in enriched_event_counts(ev, dim).collect()
    }
    streamed = {
        (r["window_start"], r["category"]): (r["n"], r["total_value"])
        for r in stream_static_join(spark, SF_SMOKE).collect()
    }
    assert batch == streamed
