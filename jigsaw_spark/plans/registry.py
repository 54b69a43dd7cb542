"""The query registry leaf: ``QuerySpec``, ``QUERIES``, ``register``, the
exact-arithmetic helpers and the DuckDB oracle shapes every family shares.

Nothing here imports from ``jigsaw_spark.plans``, so any family module can be
the first import of an interpreter.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from jigsaw_spark.session import load_table


@dataclass
class QuerySpec:
    spark: Callable[[SparkSession, str], DataFrame]
    oracle: str | None  # None → driver records rows-only check
    doc: str = ""


QUERIES: dict[str, QuerySpec] = {}


def register(name: str, oracle: str | None, doc: str = ""):
    def deco(fn):
        # a duplicate name silently REPLACED the earlier registration
        # (and its driver-certified oracle) until r6, when a new batch's
        # fn_variant overwrote round-3's — fail loudly instead
        if name in QUERIES:
            raise KeyError(f"query {name!r} is already registered")
        QUERIES[name] = QuerySpec(spark=fn, oracle=oracle, doc=doc)
        return fn

    return deco


# ---------------------------------------------------------------------------
# Exact money arithmetic.
#
# Every money/rate column in the testdata holds 2-decimal values stored as
# doubles. Summing doubles is accumulation-order-dependent, so a rounded sum
# can flip a cent between Spark and DuckDB when a group total lands near a
# half-cent boundary (the r01 `merge_upsert` hash flake). The fix: cast the
# 2-decimal inputs to decimal (exact in both engines — the nearest double of
# a 2-decimal value renders back to that value), accumulate in decimal
# (exact, order-independent, AQE/partitioning-proof), round the exact
# decimal (HALF_UP away from zero in both engines), and cast the result to
# double so canonical rendering matches bit-for-bit.
#
# Precisions are kept small (12,2 for prices; 3,2 for rates) so that triple
# products like price*(1-disc)*(1+tax) stay inside DuckDB's p1+p2<=38
# multiplication bound without truncation on either engine.
# ---------------------------------------------------------------------------


def dec2(col, prec: int = 18):
    """Cast a 2-decimal double column/expr to exact decimal."""
    c = F.col(col) if isinstance(col, str) else col
    return c.cast(f"decimal({prec},2)")


def dsum(col, scale: int = 2):
    """Order-independent rounded money sum → double (see module note)."""
    return F.round(F.sum(col), scale).cast("double")


def davg(col, scale: int = 4, prec: int = 18):
    """Deterministic rounded mean of a 2-decimal column: exact decimal sum
    cast to double, divided by the non-null count (double division and the
    final round are bit-identical across engines for the same operands)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.round(
        F.sum(dec2(c, prec)).cast("double") / F.count(c), scale
    )


# Exact-decimal discounted revenue — the expression almost every TPC-H-shape
# query sums. Kept as one helper pair (Spark expr + SQL text) so both sides
# stay bit-identical.
_REV_SQL = (
    "CAST(l_extendedprice AS DECIMAL(12,2))"
    " * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(3,2)))"
)


def rev_col():
    return dec2("l_extendedprice", 12) * (
        F.lit(1).cast("decimal(3,2)") - F.col("l_discount").cast("decimal(3,2)")
    )


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, sf_dir, name)


# Truncated integer division toward zero with a positive divisor, as a
# DuckDB template (``_TDIV.format(x=..., d=...)``). Spark's `div` truncates
# toward zero; the CASE form spells the same semantics in DuckDB whatever
# its `//` does on negatives (operators/ml._tdiv is the Python twin).
_TDIV = "CASE WHEN {x} >= 0 THEN {x} // {d} ELSE -((-({x})) // {d}) END"


# The word-trigram shingles of a token list ``t`` (needs ``len(t) >= 3``),
# one row per position, as a DuckDB select-list expression.
_TRIGRAMS = (
    "unnest(list_transform(range(1, len(t) - 1), "
    "i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))"
)


def _sym_edges_cte(
    name: str = "edges", pairs: str = "pairs", materialized: bool = False
) -> str:
    """``name(u, v)``: both directions of every ``pairs(doc_a, doc_b)`` row,
    as one DuckDB CTE."""
    mat = " MATERIALIZED" if materialized else ""
    return f"""{name} AS{mat} (
      SELECT doc_a AS u, doc_b AS v FROM {pairs}
      UNION
      SELECT doc_b AS u, doc_a AS v FROM {pairs})"""


def _components_cte(
    node: str = "doc_id",
    label: str = "component",
    materialized: bool = False,
    edges: str = "edges",
    suffix: str = "",
) -> str:
    """Connected components of a symmetric ``edges(u, v)`` CTE, as two DuckDB
    CTEs for a ``WITH RECURSIVE`` block: ``reach{suffix}(u, v)`` holds every
    node reachable from ``u``, and ``comp{suffix}`` labels each node that has
    an edge with the least id in its component (columns ``node``,
    ``label``). Nodes without an edge get no row; callers coalesce them to
    themselves."""
    mat = " MATERIALIZED" if materialized else ""
    return f"""reach{suffix}(u, v) AS (
      SELECT u, v FROM {edges}
      UNION
      SELECT r.u, e.v FROM reach{suffix} r JOIN {edges} e ON r.v = e.u
      WHERE e.v <> r.u),
    comp{suffix} AS{mat} (
      SELECT u AS {node}, least(u, min(v)) AS {label}
      FROM reach{suffix} GROUP BY u)"""
