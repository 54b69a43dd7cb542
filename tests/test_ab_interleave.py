"""tools/ab_interleave.py's per-run counters, read from the status store of
the ordinary session (spark.ui.enabled=false)."""

from __future__ import annotations

import importlib.util
from pathlib import Path

from pyspark.sql import functions as F

from perfbench.tracing import StatusStore

_TOOL = Path(__file__).resolve().parents[1] / "tools" / "ab_interleave.py"
_spec = importlib.util.spec_from_file_location("ab_interleave", _TOOL)
ab = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(ab)


def test_counters_cover_only_the_run_after_the_mark(spark):
    store = StatusStore(spark)
    df = (
        spark.range(1000)
        .repartition(3)
        .groupBy((F.col("id") % 7).alias("k"))
        .count()
    )
    runs = []
    for _ in range(2):
        since = ab.marks(store)
        df.write.mode("overwrite").format("noop").save()
        runs.append(ab.counters(store, since))
    assert runs[0] == runs[1]
    assert runs[0]["jobs"] >= 1
    assert runs[0]["stages"] >= 2
    assert runs[0]["shuffle_write_records"] >= 1000
    assert runs[0]["shuffle_read_bytes"] == runs[0]["shuffle_write_bytes"] > 0
    # nothing ran after the last mark
    assert not any(ab.counters(store, ab.marks(store)).values())
