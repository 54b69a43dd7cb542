"""The benchmark's workloads: which jigsaw_spark calls make up one pass, and
how each step's output is checked.

A step has a build (the Python-side construction, including every eager
checkpoint and driver collect the program makes) and an action that runs
the plan to the end. ``--seed`` only reorders work within a pass; the data
is the fixed sf0.1 table set.
"""

from __future__ import annotations

import math
import os
import random
import shutil
import sys
from dataclasses import dataclass
from pathlib import Path
from typing import Any, Callable

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT / "tools"))

from verify_oracle import UnsortableCell, table_hash, to_pandas_rows  # noqa: E402

# LLM-curation steps over the 5 k-doc corpus, one for each module the
# curate rows of the layer table name: SimHash signatures (dedup, a pandas
# kernel), the multimodal pHash path (another kernel), and a streaming
# drain. Each oracle runs in under a second on DuckDB.
CURATE_STEPS = (
    "dedup_simhash",
    "mm_phash_near_dup",
    "stream_table_checksum",
)

# The jigsaw export: two tag groups with exact-N samples and a label merge,
# the pipeline's exact test/dev split, then one TFRecord split per frame.
EXPORT_GROUPS = (
    ("urgent_open", "and", ("O", "1-URGENT"), 1000),
    ("high_medium", "or", ("2-HIGH", "3-MEDIUM"), 4000),
)
EXPORT_SHARDS = 4
EXPORT_TEST_FRACTION = 0.2


@dataclass
class Step:
    name: str
    build: Callable[[], Any]
    act: Callable[[Any], Any]
    frame: Callable[[Any], Any]  # the DataFrame whose plan a traced pass forces


def _noop(df) -> None:
    df.write.mode("overwrite").format("noop").save()


def _duck(sf_dir: str, cores: int):
    import duckdb

    from jigsaw_spark.session import TABLES

    con = duckdb.connect()
    con.execute(f"SET threads TO {cores}")
    for t in TABLES:
        p = Path(sf_dir) / f"{t}.parquet"
        if p.exists():
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    return con


class Curate:
    """Registered curation queries, each checked against its DuckDB oracle."""

    name = "curate"
    tables = ("documents",)
    collects = True  # the cold pass returns rows for the check

    def __init__(self, spark, sf_dir: str, seed: int, work_dir: Path) -> None:
        from jigsaw_spark.plans.queries import QUERIES

        self._specs = QUERIES
        self.sf_dir = sf_dir
        order = list(CURATE_STEPS)
        random.Random(seed).shuffle(order)
        self.steps = [
            Step(n, lambda n=n: QUERIES[n].spark(spark, sf_dir), _noop, lambda df: df)
            for n in order
        ]

    def check_sink(self, df):
        return list(df.columns), to_pandas_rows(df.toPandas())

    def verify(self, outputs: dict[str, Any], cores: int) -> dict[str, dict]:
        """Step → {"ok", "rows", "detail"} against the DuckDB oracle, the
        comparison ``tools/verify_oracle.py`` makes."""
        con = _duck(self.sf_dir, cores)
        out = {}
        for name in CURATE_STEPS:
            if name not in outputs:
                out[name] = {"ok": False, "rows": None, "detail": "no output"}
                continue
            scols, srows = outputs[name]
            res = {"ok": False, "rows": len(srows), "detail": ""}
            out[name] = res
            dpdf = con.execute(self._specs[name].oracle).df()
            dcols, drows = list(dpdf.columns), to_pandas_rows(dpdf)
            if sorted(scols) != sorted(dcols):
                res["detail"] = f"columns {sorted(scols)} vs {sorted(dcols)}"
            elif len(srows) != len(drows):
                res["detail"] = f"rows {len(srows)} vs oracle {len(drows)}"
            else:
                try:
                    sh = table_hash(srows, [scols.index(c) for c in sorted(scols)])
                    dh = table_hash(drows, [dcols.index(c) for c in sorted(dcols)])
                except UnsortableCell as e:
                    res["detail"] = f"unsortable cell {e}"
                else:
                    res["ok"] = sh == dh
                    res["detail"] = "" if res["ok"] else f"hash {sh} vs oracle {dh}"
        con.close()
        return out

    def counters(self) -> dict[str, float]:
        return {}

    def close(self) -> None:
        pass


class Export:
    """``run_pipeline`` over ``orders`` tags, then ``write_tfrecords`` of its
    test and dev frames; the check reads every shard back."""

    name = "export"
    tables = ("orders",)
    collects = False  # the shards of the cold pass are the check's input

    def __init__(self, spark, sf_dir: str, seed: int, work_dir: Path) -> None:
        from pyspark.sql import functions as F

        from jigsaw_spark.operators.filters import FilterGroup, FilterStep
        from jigsaw_spark.operators.transforms import Transform
        from jigsaw_spark.plans.pipeline import PipelineSpec, run_pipeline
        from jigsaw_spark.session import load_table
        from jigsaw_spark.sources.tfrecord import write_tfrecords

        self.sf_dir = sf_dir
        self.out_dir = str(work_dir / "export")
        self.columns: set[str] = set()
        groups = list(EXPORT_GROUPS)
        random.Random(seed).shuffle(groups)
        spec = PipelineSpec(
            name="perfbench-export",
            key_cols=["o_orderkey"],
            groups=[FilterGroup(n, [FilterStep(t, list(tags))], sample_n=k) for n, t, tags, k in groups],
            transforms=[Transform("merge", ["2-HIGH", "3-MEDIUM"], "MID")],
            recode_cols=["o_orderpriority"],
            test_fraction=EXPORT_TEST_FRACTION,
        )

        def build():
            orders = load_table(spark, sf_dir, "orders")
            self.columns = set(orders.columns)
            tagged = orders.withColumn("tags", F.array("o_orderstatus", "o_orderpriority"))
            return run_pipeline(tagged, spec)

        def act(result):
            shutil.rmtree(self.out_dir, ignore_errors=True)
            for split, frame in (("test", result.test), ("dev", result.dev)):
                out = os.path.join(self.out_dir, split)
                write_tfrecords(frame.drop("tags").repartition(EXPORT_SHARDS), out, split)

        self.steps = [Step("export_pipeline", build, act, lambda r: r.selected)]

    def expected_sizes(self, cores: int) -> dict[str, int]:
        """Split → exact record count, from the group sizes DuckDB counts
        and ``split_data``'s cutoff."""
        con = _duck(self.sf_dir, cores)
        selected = 0
        for _, kind, tags, n in EXPORT_GROUPS:
            has = [f"(o_orderstatus = '{t}' OR o_orderpriority = '{t}')" for t in tags]
            pred = (" AND " if kind == "and" else " OR ").join(has)
            (cnt,) = con.execute(f"SELECT count(*) FROM orders WHERE {pred}").fetchone()
            selected += min(n, cnt)  # the two groups share no order
        con.close()
        test = max(1, math.floor(selected * EXPORT_TEST_FRACTION))
        return {"test/test": test, "dev/dev": selected - test}

    def verify(self, outputs: dict[str, Any], cores: int) -> dict[str, dict]:
        expected = self.expected_sizes(cores)
        found = outputs.get("export_pipeline") or {}
        problems = []
        for split, n in sorted(expected.items()):
            got = found.get(split)
            if got is None:
                problems.append(f"{split} missing")
            elif not (got["numexamples"] == got["records"] == n):
                problems.append(f"{split}: numexamples {got['numexamples']}, records {got['records']}, expected {n}")
            elif got["bad"]:
                problems.append(f"{split}: {got['bad']} records do not decode to the order columns")
        if set(found) - set(expected):
            problems.append(f"unexpected splits {sorted(set(found) - set(expected))}")
        rows = sum(v["records"] for v in found.values())
        return {"export_pipeline": {"ok": not problems, "rows": rows, "detail": "; ".join(problems)}}

    def read_back(self) -> dict[str, dict]:
        """The check's input: per split path, the numexamples sidecar, the
        records read (CRC-checked) and those that do not decode to the
        order columns."""
        from jigsaw_spark.sources.tfrecord import decode_example, read_tfrecords

        out = {}
        for dirpath, _, files in os.walk(self.out_dir):
            for f in files:
                if not f.endswith(".numexamples"):
                    continue
                base = f[: -len(".numexamples")]
                split = os.path.relpath(os.path.join(dirpath, base), self.out_dir)
                with open(os.path.join(dirpath, f)) as fh:
                    numexamples = int(fh.read())
                records = bad = 0
                for shard in files:
                    if shard.startswith(base + "-") and shard.endswith(".record"):
                        for rec in read_tfrecords(os.path.join(dirpath, shard)):
                            records += 1
                            bad += set(decode_example(rec)) != self.columns
                out[split] = {"numexamples": numexamples, "records": records, "bad": bad}
        return {"export_pipeline": out}

    def counters(self) -> dict[str, float]:
        """What the last pass wrote: TFRecord records, bytes and files."""
        records = files = size = 0
        for dirpath, _, names in os.walk(self.out_dir):
            for f in names:
                p = os.path.join(dirpath, f)
                files += 1
                size += os.path.getsize(p)
                if f.endswith(".numexamples"):
                    with open(p) as fh:
                        records += int(fh.read())
        return {"sources.records": records, "sources.bytes_written": size, "sources.files": files}

    def close(self) -> None:
        shutil.rmtree(self.out_dir, ignore_errors=True)


WORKLOADS = {w.name: w for w in (Curate, Export)}
