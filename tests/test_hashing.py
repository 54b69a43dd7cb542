"""The md5 stream's digest -> integer step (functions/hashing.py) against its
DuckDB twin, and guards that query bodies keep routing through it."""

from __future__ import annotations

import ast
from collections import Counter
from pathlib import Path

import duckdb
from pyspark.sql import functions as F

from jigsaw_spark.functions.hashing import det_hash, md5_int, md5_key_sql

PKG = Path(__file__).resolve().parents[1] / "jigsaw_spark"

# (id, k, t): NULL in either key column, both, and a non-ASCII string
ROWS = [
    (0, 1, "a"),
    (1, 2, None),
    (2, None, "b"),
    (3, None, None),
    (4, 12345678901, "ünï"),
    (5, -7, ""),
]
SCHEMA = "id int, k bigint, t string"


def _duck(sql_expr: str) -> dict[int, int | None]:
    con = duckdb.connect()
    con.execute("CREATE TABLE r (id INTEGER, k BIGINT, t VARCHAR)")
    con.executemany("INSERT INTO r VALUES (?, ?, ?)", ROWS)
    return dict(con.execute(f"SELECT id, {sql_expr} FROM r").fetchall())


def _spark(spark, col) -> dict[int, int | None]:
    df = spark.createDataFrame(ROWS, SCHEMA)
    return {r.id: r.h for r in df.select("id", col.alias("h")).collect()}


def test_det_hash_matches_duckdb_prefix_cast(spark):
    for seed in ("", "split-42"):
        digest = md5_key_sql(["k", "t"], seed=seed)
        for chars in (8, 12, 15):
            want = _duck(f"CAST(('0x' || substr({digest}, 1, {chars})) AS UBIGINT)")
            got = _spark(spark, det_hash("k", "t", seed=seed, chars=chars))
            assert got == want, (seed, chars)
            # concat_ws skips NULL keys, so every row hashes; <= 15 hex
            # chars stay inside a positive bigint
            assert all(v is not None and 0 <= v < 16**chars for v in got.values())


def test_concat_form_digest_stays_null_for_null_key(spark):
    want = _duck("CAST(('0x' || substr(md5('x|' || CAST(k AS VARCHAR)), 1, 12)) AS UBIGINT)")
    got = _spark(
        spark, md5_int(F.md5(F.concat(F.lit("x|"), F.col("k").cast("string"))), 12)
    )
    assert got == want
    assert {i for i, v in got.items() if v is None} == {2, 3}


def _conv_calls() -> Counter:
    """(module path, top-level def) of every ``F.conv(`` call in the package."""
    found: Counter = Counter()
    for path in sorted(PKG.rglob("*.py")):
        tree = ast.parse(path.read_text(), filename=str(path))
        for top in tree.body:
            owner = getattr(top, "name", None)
            for node in ast.walk(top):
                if (
                    isinstance(node, ast.Call)
                    and isinstance(node.func, ast.Attribute)
                    and node.func.attr == "conv"
                    and isinstance(node.func.value, ast.Name)
                    and node.func.value.id == "F"
                ):
                    found[(path.relative_to(PKG).as_posix(), owner)] += 1
    return found


def test_md5_prefix_to_int_lives_in_hashing():
    """Digest -> integer goes through md5_int/det_hash. The only other
    F.conv reads are the Poisson-weight byte and the hashed-feature sign
    nibble, which read mid-digest slices, not a prefix."""
    allowed = {
        ("functions/hashing.py", "md5_int"): 1,
        ("plans/agg.py", "_pois_weights"): 1,
        ("operators/ml.py", "hash_features"): 1,
    }
    assert dict(_conv_calls()) == allowed


def test_contamination_holdout_flag_has_one_definition():
    owners = set()
    for path in sorted(PKG.rglob("*.py")):
        tree = ast.parse(path.read_text(), filename=str(path))
        for top in tree.body:
            for node in ast.walk(top):
                if isinstance(node, ast.Constant) and node.value == "contam":
                    owners.add((path.relative_to(PKG).as_posix(), getattr(top, "name", None)))
    assert owners == {("plans/dq.py", "_holdout_col")}
