"""Fixed costs a build pays before any work: the Spark jobs it launches
while constructing a plan, and a sort key hashed on every comparison."""

from __future__ import annotations

import itertools
import os
import re
import shutil
from contextlib import contextmanager

import pyarrow as pa
import pyarrow.parquet as pq

from jigsaw_spark.functions.hashing import det_order
from jigsaw_spark.operators.samples import _ranked, exact_sample
from jigsaw_spark.session import TABLES, load_table
from tests.conftest import SF_SMOKE

_tags = itertools.count()


@contextmanager
def launched_jobs(spark):
    """Collects the ids of the Spark jobs started inside the block."""
    sc = spark.sparkContext
    tag = f"fixed-costs-{next(_tags)}"
    sc.addJobTag(tag)
    ids: list[int] = []
    try:
        yield ids
    finally:
        sc.removeJobTag(tag)
        jsc = sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        ids.extend(jsc.statusTracker().getJobIdsForTag(tag))


def test_exact_sample_sorts_on_a_projected_key(spark):
    """The top-N sort orders by attributes; the md5 key is computed once per
    row below it, not on every comparison. Rows and order are det_order's."""
    orders = load_table(spark, SF_SMOKE, "orders")
    got = exact_sample(orders, 25, ["o_custkey"], seed="s", tiebreak_cols=["o_orderkey"])
    plan = got._jdf.queryExecution().executedPlan().toString()
    m = re.search(r"TakeOrderedAndProject\(limit=25, orderBy=\[(.*?)\], output", plan)
    assert m, plan
    assert "md5" not in m.group(1), m.group(1)
    assert got.columns == orders.columns
    want = orders.orderBy(*det_order("o_custkey", seed="s"), "o_orderkey").limit(25)
    assert got.collect() == want.collect()


def test_ranked_auto_reads_the_plan_bound_before_probing(spark):
    """A plan Catalyst bounds below the threshold ranks locally with no job;
    an unbounded table read still runs the counting probe."""
    orders = load_table(spark, SF_SMOKE, "orders").select("o_orderkey")
    bounded = exact_sample(orders, 100, ["o_orderkey"])
    with launched_jobs(spark) as jobs:
        ranked = _ranked(bounded, ["o_orderkey"], "t-seed")
    assert jobs == []
    local = _ranked(bounded, ["o_orderkey"], "t-seed", strategy="local")
    assert sorted(ranked.collect()) == sorted(local.collect())
    with launched_jobs(spark) as jobs:
        _ranked(orders, ["o_orderkey"], "t-seed")
    assert jobs


def test_warm_load_table_launches_no_job(spark):
    for name in TABLES:
        load_table(spark, SF_SMOKE, name)
    with launched_jobs(spark) as jobs:
        warm = {name: load_table(spark, SF_SMOKE, name) for name in TABLES}
    assert jobs == []
    for name in TABLES:
        if name != "events":  # load_table normalizes events.ts
            inferred = spark.read.parquet(os.path.join(SF_SMOKE, f"{name}.parquet"))
            assert warm[name].schema == inferred.schema, name


def test_rewritten_table_file_is_inferred_again(spark, tmp_path):
    path = tmp_path / "orders.parquet"
    shutil.copy(os.path.join(SF_SMOKE, "orders.parquet"), path)
    assert "extra" not in load_table(spark, str(tmp_path), "orders").columns
    st = os.stat(path)
    pq.write_table(pa.table({"o_orderkey": [1, 2], "extra": ["a", "b"]}), path)
    os.utime(path, ns=(st.st_atime_ns, st.st_mtime_ns + 10**9))
    with launched_jobs(spark) as jobs:
        df = load_table(spark, str(tmp_path), "orders")
    assert df.columns == ["o_orderkey", "extra"]
    assert len(jobs) == 1
    assert sorted(df.collect()) == [(1, "a"), (2, "b")]


def test_tables_fixture_sees_the_queries_events(spark, tables):
    """load_tables goes through load_table, events.ts normalization included."""
    assert tables["events"].schema == load_table(spark, SF_SMOKE, "events").schema
