"""Deterministic, engine-portable pseudo-randomness.

The reference tool pins global RNG seeds so that sampling, splitting and
fold assignment are reproducible (reference: jigsaw/cli.py:10-11,
jigsaw/model_utils/filters.py:241, jigsaw/write_dataset.py:112). Spark's
``rand(seed)`` is only deterministic under a fixed partitioning, and its
stream is engine-specific — a DuckDB oracle can never reproduce it.

The engine therefore derives all "random" orderings from **md5 over the row
key** (optionally salted with a seed string). md5 is available and
bit-identical in Spark, DuckDB, and every other SQL engine, so:

  - determinism is partition-independent (safe under AQE re-planning,
    speculative execution, and cluster-scale repartitions — the 100 TB path),
  - every seeded operator has an exact SQL oracle,
  - the stream is uniform enough for sampling/splitting purposes.

This is the same trick as hash-based A/B bucketing in production pipelines.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def md5_key(*cols: Column | str, seed: str = "") -> Column:
    """md5 hex digest of the concatenated key columns (NUL-safe separator).

    ``seed`` participates in the digest so distinct operators draw
    independent pseudo-random streams from the same key.
    """
    parts: list[Column] = [F.lit(seed)] if seed else []
    parts.extend(F.col(c).cast("string") if isinstance(c, str) else c.cast("string") for c in cols)
    return F.md5(F.concat_ws("|", *parts))


def md5_int(digest: Column, chars: int) -> Column:
    """The first ``chars`` hex chars of an md5 digest as a bigint.

    ``chars`` <= 15 keeps the value positive (at most 60 bits). The DuckDB
    twin is ``CAST(('0x' || substr(digest, 1, chars)) AS UBIGINT)``. A NULL
    digest gives NULL."""
    return F.conv(F.substring(digest, 1, chars), 16, 10).cast("bigint")


def det_hash(*cols: Column | str, seed: str = "", chars: int = 15) -> Column:
    """Integer drawn from the md5 stream: :func:`md5_int` over
    :func:`md5_key`. The DuckDB twin is ``CAST(('0x' || substr(<md5_key_sql>,
    1, chars)) AS UBIGINT)``; ``chars`` <= 15 keeps it positive. concat_ws
    skips a NULL key, so a NULL key still hashes (to the seed alone)."""
    return md5_int(md5_key(*cols, seed=seed), chars)


def det_order(*cols: Column | str, seed: str = "") -> list[Column]:
    """Deterministic shuffle order: md5(key) ascending with the raw key as a
    tiebreaker (md5 collisions are negligible but the tiebreaker makes the
    order total regardless)."""
    key_cols = [F.col(c) if isinstance(c, str) else c for c in cols]
    return [md5_key(*cols, seed=seed).asc(), *[c.asc() for c in key_cols]]


def md5_key_sql(cols: list[str], seed: str = "") -> str:
    """The DuckDB/ANSI rendering of :func:`md5_key` — kept adjacent so the
    Spark expression and its oracle can never drift."""
    parts = ([f"'{seed}'"] if seed else []) + [f"CAST({c} AS VARCHAR)" for c in cols]
    return f"md5(concat_ws('|', {', '.join(parts)}))"
