"""Interleaved same-session A/B of registered queries between the working
tree ("new") and a git ref ("old", default HEAD): wall time plus counters
that do not drift (jobs, stages, shuffle bytes and records).

Cross-session timings mislead (warm sessions flatten everything, and the
host drifts ±5 % over hours), so old and new alternate inside ONE session.
The old side is `git archive <ref>` in a temp dir, the new side the repo
itself. Each side's jigsaw_spark package is imported once. Before each rep
that side's module set is swapped into sys.modules and registered with
cloudpickle to pickle by value, so function-local imports and Python
workers run that side's code. Per-process caches such as the table-schema
cache persist from rep to rep: a side's first rep is cold, and its later
reps do not depend on which queries ran before them. The sides swap
order every rep (old first on even reps, new first on odd ones), so
neither side always runs second on the OS and JVM caches the other
warmed; an even -n gives each side the first slot equally often. Each
rep is one bench.time_query. Its counters are the jobs and completed
stages with ids above the high-water mark taken before it, read from the
status store with the UI off; streaming micro-batches outside the
caller's job group count too. A counter that differs between reps prints
as a list.

Usage:
    python tools/ab_interleave.py [-n 4] [--ref HEAD] [--sf DIR] \
        [--explain-dir DIR] name [name...]
--explain-dir writes each side's first-rep plan to <name>_old.txt and
<name>_new.txt.
"""

from __future__ import annotations

import argparse
import io
import os
import shutil
import subprocess
import sys
import tempfile
from contextlib import redirect_stdout
from pathlib import Path
from types import ModuleType

from pyspark import cloudpickle

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

from bench import time_query, warm  # noqa: E402
from perfbench.tracing import StatusStore  # noqa: E402


def _evict() -> dict[str, ModuleType]:
    """Remove the jigsaw_spark modules from sys.modules and drop their
    pickle-by-value registration; return the removed modules."""
    if "jigsaw_spark" in cloudpickle.list_registry_pickle_by_value():
        cloudpickle.unregister_pickle_by_value(sys.modules["jigsaw_spark"])
    return {
        m: sys.modules.pop(m)
        for m in list(sys.modules)
        if m.split(".")[0] == "jigsaw_spark"
    }


def _swap_in(mods: dict[str, ModuleType]) -> dict[str, ModuleType]:
    """Make ``mods`` (one side's module set) the imported jigsaw_spark,
    pickled by value. Returns the set it replaces, including any module
    imported lazily while that set was in place."""
    out = _evict()
    sys.modules.update(mods)
    cloudpickle.register_pickle_by_value(mods["jigsaw_spark"])
    return out


def _load_queries(side_dir: str):
    _evict()
    sys.path.insert(0, side_dir)
    try:
        from jigsaw_spark.plans.queries import QUERIES  # noqa: PLC0415

        cloudpickle.register_pickle_by_value(sys.modules["jigsaw_spark"])
        return dict(QUERIES)
    finally:
        sys.path.pop(0)


def marks(store: StatusStore) -> tuple[int, int]:
    """Highest job and stage id the status store has seen so far."""
    store.drain()
    return (
        max((j["jobId"] for j in store.jobs()), default=-1),
        max((s["stageId"] for s in store.stages()), default=-1),
    )


def counters(store: StatusStore, since: tuple[int, int]) -> dict[str, int]:
    """Jobs, completed stages and their shuffle totals with ids above
    ``since`` (from ``marks``)."""
    store.drain()
    stages = [
        s
        for s in store.stages()
        if s["stageId"] > since[1] and s["status"] == "COMPLETE"
    ]
    return {
        "jobs": sum(j["jobId"] > since[0] for j in store.jobs()),
        "stages": len(stages),
        "shuffle_write_bytes": sum(s["shuffleWriteBytes"] for s in stages),
        "shuffle_write_records": sum(s["shuffleWriteRecords"] for s in stages),
        "shuffle_read_bytes": sum(s["shuffleReadBytes"] for s in stages),
    }


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("names", nargs="+")
    ap.add_argument("-n", type=int, default=4, help="reps per side")
    ap.add_argument("--ref", default="HEAD")
    ap.add_argument(
        "--sf",
        default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"),
    )
    ap.add_argument("--explain-dir", type=Path, default=None)
    args = ap.parse_args()

    old_dir = tempfile.mkdtemp(prefix="ab_old_")
    subprocess.run(
        f"git -C {REPO} archive {args.ref} jigsaw_spark | tar -x -C {old_dir}",
        shell=True,
        check=True,
    )

    from jigsaw_spark.session import get_spark  # noqa: PLC0415

    spark = get_spark("jigsaw_spark-ab")
    store = StatusStore(spark)
    warm(spark, args.sf)
    if args.explain_dir:
        args.explain_dir.mkdir(parents=True, exist_ok=True)

    sides = {"old": old_dir, "new": str(REPO)}
    queries, mods = {}, {}
    for side, sdir in sides.items():
        queries[side] = _load_queries(sdir)
        mods[side] = _evict()
    active = None
    times = {n: {"old": [], "new": []} for n in args.names}
    counts = {n: {"old": [], "new": []} for n in args.names}
    try:
        for rep in range(args.n):
            order = list(sides) if rep % 2 == 0 else list(sides)[::-1]
            for side in order:
                replaced = _swap_in(mods[side])
                if active is not None:
                    mods[active] = replaced
                active = side
                qs = queries[side]
                for name in args.names:
                    spark.sparkContext.setJobDescription(
                        f"ab {name} {side} rep{rep}"
                    )
                    since = marks(store)
                    elapsed, df = time_query(spark, qs[name], args.sf)
                    times[name][side].append(elapsed)
                    counts[name][side].append(counters(store, since))
                    if args.explain_dir and rep == 0:
                        buf = io.StringIO()
                        with redirect_stdout(buf):
                            df.explain("formatted")
                        path = args.explain_dir / f"{name}_{side}.txt"
                        path.write_text(buf.getvalue())
        spark.sparkContext.setJobDescription(None)
        for name in args.names:
            o, n = times[name]["old"], times[name]["new"]
            print(
                f"AB {name}: old_min={min(o)} new_min={min(n)} "
                f"old={o} new={n} "
                f"speedup_min={round(min(o) / min(n), 3)}",
                flush=True,
            )
            for side, reps in counts[name].items():
                cols = ((k, [r[k] for r in reps]) for k in reps[0])
                print(f"  {side}: " + " ".join(
                    f"{k}={v[0] if len(set(v)) == 1 else v}" for k, v in cols
                ), flush=True)
    finally:
        shutil.rmtree(old_dir, ignore_errors=True)


if __name__ == "__main__":
    main()
