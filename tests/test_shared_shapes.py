"""Each oracle shape that recurs across the query families, and the
AvailableNow memory drain, is written once under ``jigsaw_spark/plans`` and
reached through its helper."""

from __future__ import annotations

import ast
from pathlib import Path

import pytest

PLANS = Path(__file__).resolve().parent.parent / "jigsaw_spark" / "plans"

# Each marker is free of CTE and edge-table names, so a copy renamed to
# ``reach_t``/``comp_{arm}``/``iedges`` still counts.
SHAPES = {
    "least(u, min(v))": [("registry.py", "_components_cte")],
    "bit_count(xor(a.simhash, b.simhash)) <= 2": [
        ("dedup.py", "_simhash_edges_cte"),
        # dedup_simhash_pairs also selects each pair's Hamming distance,
        # so it keeps its own pair select
        ("dedup.py", "dedup_simhash_pairs"),
    ],
    "doc_a AS u, doc_b AS v": [("registry.py", "_sym_edges_cte")],
    "i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]": [("registry.py", "_TRIGRAMS")],
    "min(md5(CAST(seed AS VARCHAR) || '|' || shingle))": [("dedup.py", "_minhash_cte")],
    # the LSH bucket self-join, under each alias pair it was written with
    "a.band = b.band AND a.sig = b.sig": [
        ("dedup.py", "_lsh_pairs_cte"),
        # the skew-capped oracle also joins each bucket's size
        ("dedup.py", "dedup_lsh_capped"),
    ],
    "x_a.band = x_b.band AND x_a.sig = x_b.sig": [],
    "a.band = b2.band AND a.sig = b2.sig": [],
    "JOIN ph_bytes y ON x.byte_idx = y.byte_idx": [("mm.py", "_dhash_ham_cte")],
    '.format("memory")': [("stream.py", "_drain")],
    # the per-doc near-dup cluster label: exact keeper → its component
    "coalesce(c.component, k.keeper)": [
        ("dedup.py", "_keeper_cluster_cte"),
        # folds image edges onto exact keepers, so token-less docs share
        # one keeper there and the text arm must match the pooled arm
        ("dq.py", "_pooled_leakage_sql"),
        ("dq.py", "_pooled_leakage_sql"),
    ],
    # the all-docs label over a ``keeper``-labelled comp; it is written
    # as ``_keeper_cluster_cte(label="keeper")``
    "coalesce(c.keeper, d.doc_id)": [],
    # the reversed orientation of a Spark pair list's symmetric edge list;
    # it is operators/dedup.symmetric_edges
    'F.col("doc_b").alias("u")': [],
    'F.col("doc_b").alias("src")': [],
    'F.col("b").alias("src")': [],
}

# Plan functions that fold components over exact keepers or pair arms, not
# a per-doc cluster label (that is operators/dedup.near_dup_keepers).
KEEPER_COMPONENT_FOLDS = {
    "dq_pooled_cluster_leakage",
    "dedup_pooled_text_detectors",
    "curation_cluster_extinction",
}


def _owners(marker: str) -> list[tuple[str, str | None]]:
    """(module, top-level def or assignment) of every occurrence of
    ``marker`` in the plans' source text, one entry per occurrence."""
    found = []
    for path in sorted(PLANS.glob("*.py")):
        text = path.read_text()
        if marker not in text:
            continue
        lines = text.splitlines(keepends=True)
        tree = ast.parse(text, filename=str(path))
        owned = 0
        for top in tree.body:
            # a registered query's oracle sits in its decorator
            decorators = getattr(top, "decorator_list", [])
            first = min([d.lineno for d in decorators] + [top.lineno])
            n = "".join(lines[first - 1 : top.end_lineno]).count(marker)
            if isinstance(top, ast.Assign):
                owner = ",".join(ast.unparse(t) for t in top.targets)
            else:
                owner = getattr(top, "name", None)
            found += [(path.name, owner)] * n
            owned += n
        # text outside every top-level statement (a module comment)
        found += [(path.name, None)] * (text.count(marker) - owned)
    return found


@pytest.mark.parametrize("marker", sorted(SHAPES))
def test_recurring_shape_has_one_definition(marker):
    assert _owners(marker) == SHAPES[marker]


def _callee(call: ast.Call) -> str:
    f = call.func
    return f.id if isinstance(f, ast.Name) else getattr(f, "attr", "")


def _called_names(fn: ast.AST) -> set[str]:
    return {_callee(n) for n in ast.walk(fn) if isinstance(n, ast.Call)}


def _plan_functions():
    for path in sorted(PLANS.glob("*.py")):
        for top in ast.parse(path.read_text()).body:
            if isinstance(top, ast.FunctionDef):
                yield top


def test_cluster_labels_come_from_near_dup_keepers():
    both = {
        top.name
        for top in _plan_functions()
        if {"keeper_frames", "connected_components"} <= _called_names(top)
    }
    assert both == KEEPER_COMPONENT_FOLDS


def _rechecked(graph: str) -> list[str]:
    """Plan functions that call ``localCheckpoint`` on a ``graph(...)``
    call, which already returns materialized pairs."""
    return [
        top.name
        for top in _plan_functions()
        for n in ast.walk(top)
        if isinstance(n, ast.Call)
        and _callee(n) == "localCheckpoint"
        and isinstance(n.func, ast.Attribute)
        and isinstance(n.func.value, ast.Call)
        and _callee(n.func.value) == graph
    ]


def test_keeper_graph_comes_from_keeper_pairs():
    """The Spark keeper graph is operators/dedup.keeper_pairs, which
    materializes its pairs itself: no plan function rebuilds it from
    exact_dedup and simhash_pairs, and none checkpoints it again."""
    hand = [
        top.name
        for top in _plan_functions()
        if {"exact_dedup", "simhash_pairs"} <= _called_names(top)
    ]
    assert hand == [] and _rechecked("keeper_pairs") == []


def test_lsh_graph_comes_from_lsh_pairs():
    """The graph queries' MinHash-LSH candidate graph is
    operators/dedup.lsh_pairs, which materializes its pairs itself: no
    graph query builds it from minhash_lsh_pairs, and no plan function
    checkpoints it again."""
    tree = ast.parse((PLANS / "graph.py").read_text())
    assert "minhash_lsh_pairs" not in _called_names(tree)
    assert _rechecked("lsh_pairs") == []


def test_plans_cache_nothing():
    """No query caches: a ``persist``/``cache`` left behind by one query
    changes the plans and job counts of the queries run after it in the
    same session. Lineage is cut with ``localCheckpoint``."""
    cached = [
        (path.name, n.lineno)
        for path in sorted(PLANS.glob("*.py"))
        for n in ast.walk(ast.parse(path.read_text()))
        if isinstance(n, ast.Call) and _callee(n) in {"persist", "cache"}
    ]
    assert cached == []
