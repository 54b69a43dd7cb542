"""Smoke tests for the driver contract."""

from __future__ import annotations

import __spark_entry__ as entrymod


def test_entry_returns_rows(spark):
    df = entrymod.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert set(df.columns) == {"o_orderstatus", "n_orders", "total_price"}


def test_queries_and_oracles_aligned(spark):
    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    assert set(oracles) <= set(qs)
    assert len(qs) >= 20


def test_every_query_runs_at_smoke_sf(spark):
    sf = "/root/testdata/sf0.001"
    for name, fn in entrymod.queries().items():
        df = fn(spark, sf)
        assert df.columns, name
        df.limit(1).collect()


def test_certification_window_covers_never_certified():
    """The driver's correctness gate certifies the first 50 registry slots
    in order. Every oracle-backed query that no driver row has certified
    yet sits in slots 1-50, led by the two never-certified queries; every
    other window slot is oracle-backed and already certified."""
    import json
    import pathlib

    from jigsaw_spark.plans.queries import QUERIES

    root = pathlib.Path(__file__).resolve().parents[1]
    certified: set[str] = set()
    for r in (
        "01", "02", "03", "04", "05", "06", "07", "08", "09", "10",
        "11", "12", "13",
    ):
        path = root / f"CORRECTNESS_r{r}.json"
        if path.exists():
            certified |= set(json.loads(path.read_text()))

    names = list(QUERIES)
    never = {
        q
        for q in names
        if q not in certified and QUERIES[q].oracle is not None
    }

    assert names[0] == "dedup_pooled_text_detectors", names[0]
    assert names[1] == "dq_cluster_safe_repair", names[1]

    window = names[:50]
    outside = [q for q in never if q not in window]
    assert not outside, f"certification debt outside slots 1-50: {outside}"

    # every window slot is oracle-backed (no rows-only row can certify)
    rows_only = [q for q in window if QUERIES[q].oracle is None]
    assert not rows_only, f"rows-only entries in the window: {rows_only}"

    # non-debt slots are padding and must already be driver-green
    padding = [q for q in window if q not in never]
    uncertified_padding = [q for q in padding if q not in certified]
    assert not uncertified_padding, (
        f"padding slots must be long-green re-certs: {uncertified_padding}"
    )


def test_every_driver_row_names_a_live_query():
    """A green CORRECTNESS row can certify DEAD code: r10's per-node
    graph_triangles silently shadowed r4's global-count version from r5
    until the r6 duplicate-registration guard surfaced it, so the r02
    row was certifying code no longer reachable under that name (verdict
    r6 #8). Guard: every driver-row name must still exist in the
    registry, except explicitly documented deregistrations."""
    import json
    import pathlib

    from jigsaw_spark.plans.queries import QUERIES

    # r6 deliberately deregistered the four float-prone twins — their
    # exact-integer variants (ml_kmeans_exact, ...) are driver-green
    deliberate = {"ml_kmeans", "ml_logreg", "graph_pagerank", "ml_pca_pc1"}

    root = pathlib.Path(__file__).resolve().parents[1]
    for path in sorted(root.glob("CORRECTNESS_r*.json")):
        rows = json.loads(path.read_text())
        dead = [n for n in rows if n not in QUERIES and n not in deliberate]
        assert not dead, (
            f"{path.name} certifies names no longer in the registry: {dead}"
        )
