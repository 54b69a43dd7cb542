"""Round-5 batch 15: semantic checks (watermark hash replay +
one-proportion law, equi-depth boundary replay)."""

from __future__ import annotations

import hashlib
import math
import re
from collections import defaultdict

from pyspark.sql import functions as F

import __spark_entry__ as entrymod

SF = "/root/testdata/sf0.001"


def test_watermark_detect_replay(spark):
    docs = {
        r["doc_id"]: r["text"]
        for r in spark.read.parquet(f"{SF}/documents.parquet").collect()
    }
    want = {}
    for doc_id, text in docs.items():
        toks = [t for t in re.split("[^a-z0-9]+", text.lower()) if t]
        if len(toks) < 2:
            continue
        n = len(toks) - 1
        g = 0
        for a, b in zip(toks, toks[1:]):
            h = hashlib.md5(f"{a}|{b}|wm".encode()).hexdigest()
            if int(h[:2], 16) % 2 == 0:
                g += 1
        z = round(round(float(2 * g - n) / math.sqrt(float(n)), 9), 4)
        want[doc_id] = (n, g, z)
    got = {
        r["doc_id"]: (r["n_bigrams"], r["n_green"], r["z"])
        for r in entrymod.queries()["text_watermark_detect"](
            spark, SF
        ).collect()
    }
    assert got == want
    # natural (non-watermarked) corpus: the mean green rate sits near
    # 50% — |pooled z| under 4 sigma
    tn = sum(n for n, _, _ in got.values())
    tg = sum(g for _, g, _ in got.values())
    assert abs(2 * tg - tn) / math.sqrt(tn) < 4.0


def test_equidepth_hist_replay(spark):
    from jigsaw_spark.plans.registry import _t

    ev = _t(spark, SF, "events").select(
        "event_type",
        F.round(F.col("value") * 100, 0).cast("bigint").alias("cents"),
    )
    series = defaultdict(list)
    for r in ev.collect():
        series[r["event_type"]].append(r["cents"])
    got = {
        r["event_type"]: r
        for r in entrymod.queries()["agg_equidepth_hist"](
            spark, SF
        ).collect()
    }
    for et, xs in series.items():
        xs.sort()
        n = len(xs)
        r = got[et]
        assert r["n"] == n
        bounds = [r[f"b{i}"] for i in range(1, 9)]
        for i in range(1, 9):
            rank = -(-i * n // 8)  # ceil
            assert bounds[i - 1] == xs[rank - 1], (et, i)
        assert bounds == sorted(bounds)
        assert bounds[-1] == xs[-1]
        # equi-depth law: each bucket holds between floor and ceil of
        # n/8 elements (up to ties)
        prev_rank = 0
        for i in range(1, 9):
            rank = -(-i * n // 8)
            assert rank - prev_rank <= n // 8 + 1
            prev_rank = rank
