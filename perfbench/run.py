"""sparkjig benchmark: one workload per invocation, run from the repo root.

    python3 perfbench/run.py --workload curate --seed 1 --seconds 10 --trace 0

Protocol (README.md in this directory gives the reasons and evidence):

1. ``setup_s``: process start until the engine session is up and the
   workload's tables are registered. Three setups run side by side (this
   process and two throwaway children); the median is reported.
2. ``cold_s``: the first pass in the fresh session. Its outputs are the
   check's input: ``curate`` steps return rows (compared with the DuckDB
   oracle after timing), ``export`` writes the shards that are read back.
3. Two untimed warm-up passes. Passes at this size keep falling for longer
   than a run can afford, so the count is fixed: every run, and every
   commit, is timed at the same point of the warm-up curve.
4. Timed passes for ``--seconds`` (at least two): ``wall_s`` is their
   median, ``step_gmean_s`` the geometric mean of each step's median.

With ``--trace 1`` there are no setup children; tracing is on for every
pass except the untraced half of the timed phase, which alternates traced
and untraced passes. The traced passes give the per-layer metrics, and the
ratio of the two medians gives ``trace.overhead_frac``.

Human-readable lines go to stdout first; the last stdout line is one JSON
object with ``correct``, ``attempted``, ``failed`` and ``metrics``.
"""

from __future__ import annotations

import time

_T0 = time.perf_counter()

import argparse  # noqa: E402
import hashlib  # noqa: E402
import json  # noqa: E402
import math  # noqa: E402
import os  # noqa: E402
import platform  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
import traceback  # noqa: E402
from collections import defaultdict  # noqa: E402
from pathlib import Path  # noqa: E402

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path[:0] = [str(ROOT), str(HERE)]

SETUP_SAMPLES = 3
WARMUP_PASSES = 2
MIN_TIMED = 2
# One core fewer than the machine has: warm passes spread 5 % at local[3]
# against 13 % at local[4] on a 4-core host.
CORES = max(1, (os.cpu_count() or 2) - 1)

PY_METRICS = {
    "time to start Python workers": "operators.py_start_s",
    "time to initialize Python workers": "operators.py_init_s",
    "time to run Python workers": "operators.py_run_s",
    "data sent to Python workers": "operators.py_bytes_to",
    "data returned from Python workers": "operators.py_bytes_from",
}


def log(msg: str) -> None:
    print(f"[perfbench {time.perf_counter() - _T0:7.1f}s] {msg}", file=sys.stderr, flush=True)


def prepare_env(work: Path) -> None:
    """Keep every file Spark, the JVM and Python workers write inside
    ``work``, and let workers import the package from any cwd."""
    for sub in ("tmp", "local"):
        (work / sub).mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(work / "tmp")
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "local")
    opts = os.environ.get("SPARK_SUBMIT_OPTS", "")
    os.environ["SPARK_SUBMIT_OPTS"] = f"{opts} -Djava.io.tmpdir={work / 'tmp'}".strip()
    paths = [str(ROOT)] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    os.environ["SPARK_GRAFT_CPUS"] = str(CORES)


def setup(workload_cls, tracer=None):
    """Import the engine, start its session and register the workload's
    tables. Returns (spark, sf_dir, timings)."""
    if tracer is not None:
        import tracing

        tracing.install(tracer)
    import jigsaw_spark.plans.queries  # noqa: F401  the registry every step resolves through
    from jigsaw_spark.session import DEFAULT_SF_DIR, get_spark, load_table

    t = time.perf_counter()
    spark = get_spark("perfbench", cpus=CORES)
    start_s = time.perf_counter() - t
    for name in workload_cls.tables:
        load_table(spark, DEFAULT_SF_DIR, name).createOrReplaceTempView(name)
    timings = {"setup_s": time.perf_counter() - _T0, "session.start_s": start_s}
    return spark, DEFAULT_SF_DIR, timings


def _proc_tree() -> dict[int, int]:
    tree = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    tree[int(d)] = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                pass
    return tree


def descendants(pid: int) -> list[int]:
    tree = _proc_tree()
    out, frontier = [], [pid]
    while frontier:
        p = frontier.pop()
        kids = [c for c, parent in tree.items() if parent == p]
        out += kids
        frontier += kids
    return out


def rss_peak_mb(pids: list[int]) -> float:
    total = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total += int(line.split()[1])
        except OSError:
            pass
    return total / 1024.0


def teardown(spark) -> None:
    """Stop the session and the JVM it launched, and wait for the JVM and
    every Python worker under it to end."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    procs = ([proc.pid] + descendants(proc.pid)) if proc else []
    try:
        spark.stop()
    finally:
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        deadline = time.monotonic() + 30
        while True:
            alive = [p for p in procs if os.path.exists(f"/proc/{p}")]
            if not alive:
                return
            if time.monotonic() > deadline:
                for p in alive:
                    try:
                        os.kill(p, signal.SIGKILL)
                    except ProcessLookupError:
                        pass
            time.sleep(0.1)


def setup_probe(args) -> None:
    """Child process: one setup sample, printed as JSON, then teardown."""
    import workloads

    spark, _, timings = setup(workloads.WORKLOADS[args.workload])
    print(json.dumps({"setup_s": timings["setup_s"]}), flush=True)
    teardown(spark)


def start_setup_children(args, n: int) -> list[subprocess.Popen]:
    cmd = [sys.executable, str(Path(__file__).resolve()), "--workload", args.workload, "--setup-probe"]
    return [
        subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
        for _ in range(n)
    ]


def finish_setup_children(children: list[subprocess.Popen]) -> list[float]:
    out = []
    for child in children:
        stdout, stderr = child.communicate(timeout=170)
        if child.returncode != 0:
            sys.stderr.write(stderr[-4000:])
            raise RuntimeError(f"setup probe exited with {child.returncode}")
        out.append(json.loads(stdout.strip().splitlines()[-1])["setup_s"])
    return out


def run_pass(wl, tracer, traced: bool, sink=None, plan: bool = False) -> dict:
    """One pass over the workload's steps. Records each step's time and its
    build / plan / action intervals in epoch seconds (Spark stamps jobs in
    epoch milliseconds), plus outputs when ``sink`` replaces the action."""
    tracer.run_id += 1
    tracer.enabled = traced
    rec = {"run": tracer.run_id, "start": time.time(), "steps": {}, "outputs": {}, "failed": []}
    t_pass = time.perf_counter()
    for step in wl.steps:
        t0, w0 = time.perf_counter(), time.time()
        try:
            obj = step.build()
            w1 = time.time()
            if plan:
                step.frame(obj)._jdf.queryExecution().executedPlan()
            w2 = time.time()
            out = (sink or step.act)(obj)
            w3 = time.time()
        except Exception:
            traceback.print_exc(file=sys.stderr)
            rec["failed"].append(step.name)
            continue
        rec["steps"][step.name] = {"s": time.perf_counter() - t0, "build": (w0, w1), "plan": (w1, w2), "act": (w2, w3)}
        if sink is not None:
            rec["outputs"][step.name] = out
    rec["wall"] = time.perf_counter() - t_pass
    rec["end"] = time.time()
    tracer.enabled = False
    return rec


def layer_key(span_name: str) -> str | None:
    parts = span_name.split(".")
    if parts[0] == "operators":
        return f"operators.{parts[1]}"
    if parts[0] in ("multimodal", "sources", "streaming"):
        return parts[0]
    return None


def layer_metrics(p: dict, spans: list[list], jobs, stages, execs, counters: dict) -> dict:
    """Per-layer metrics of one traced pass."""
    import tracing

    m: dict[str, float] = defaultdict(float)
    lo, hi = p["start"], p["end"]

    def phase(t: float) -> str | None:
        for st in p["steps"].values():
            for ph in ("build", "plan", "act"):
                a, b = st[ph]
                if a <= t <= b:
                    return ph
        return None

    for name, st in p["steps"].items():
        m[f"step.{name}.s"] = st["s"]
        m["plans.build_s"] += st["build"][1] - st["build"][0]
        m["plans.plan_s"] += st["plan"][1] - st["plan"][0]
        m["exec.action_s"] += st["act"][1] - st["act"][0]

    layer_spans = [s for s in spans if not s[1].startswith("spark.")]
    own = tracing.self_times(layer_spans)
    for s in layer_spans:
        key = layer_key(s[1])
        if s[1] == "session.load_table":
            m["session.load_s"] += own[s[0]]
            m["session.load_calls"] += 1
        elif key == "sources":
            m["sources.export_s"] += own[s[0]]
        elif key == "streaming":
            m["streaming.drain_s"] += own[s[0]]
        elif key is not None:
            m[f"{key}.s"] += own[s[0]]
    ids = {s[0]: s for s in spans}
    for s in spans:
        if s[1] in ("spark.localCheckpoint", "spark.checkpoint"):
            m["plans.checkpoints"] += 1
            m["plans.checkpoint_s"] += s[3] - s[2]
        elif s[1] in ("spark.collect", "spark.toPandas"):
            parent = ids.get(s[4])
            if parent is None or parent[1] not in ("spark.collect", "spark.toPandas"):
                m["plans.driver_collects"] += 1
                m["plans.driver_collect_s"] += s[3] - s[2]

    for j in jobs:
        t = (j.get("submissionTime") or 0) / 1000.0
        if not lo <= t <= hi:
            continue
        ph = phase(t)
        if ph == "build":
            m["plans.build_jobs"] += 1
        elif ph == "act":
            m["exec.jobs"] += 1
        span = tracing.innermost(layer_spans, t)
        key = layer_key(span[1]) if span else None
        if key is not None:
            m[f"{key}.jobs"] += 1

    task_s = 0.0
    for s in stages:
        t = (s.get("submissionTime") or 0) / 1000.0
        if s["status"] != "COMPLETE" or not lo <= t <= hi:
            continue
        run_s = s["executorRunTime"] / 1000.0
        task_s += run_s
        if phase(t) != "act":
            continue
        m["exec.stages"] += 1
        m["exec.tasks"] += s["numTasks"]
        m["exec.task_s"] += run_s
        m["exec.gc_s"] += s["jvmGcTime"] / 1000.0
        m["exec.shuffle_write_bytes"] += s["shuffleWriteBytes"]
        m["exec.shuffle_records"] += s["shuffleWriteRecords"]
        m["exec.spill_bytes"] += s["memoryBytesSpilled"] + s["diskBytesSpilled"]
        if s["numTasks"] == 1:
            m["exec.serial_stage_s"] += run_s
    if m["exec.action_s"] > 0:
        m["exec.busy_frac"] = m["exec.task_s"] / (m["exec.action_s"] * CORES)

    for e in execs:
        if not lo <= e["submitted"] <= hi:
            continue
        for metric, name in PY_METRICS.items():
            m[name] += e["values"].get(metric, 0.0)
        if phase(e["submitted"]) == "act":
            m["exec.files_read"] += e["values"].get("number of files read", 0.0)
            m["exec.bytes_read"] += e["values"].get("size of files read", 0.0)
        if e["checkpoint_rows"] is not None:
            m["plans.checkpoint_rows"] += e["checkpoint_rows"]
    # Spark's "time to initialize Python workers" sums far more than the
    # tasks' own run time, so the share counts kernel run time only.
    m["operators.py_share"] = m["operators.py_run_s"] / task_s if task_s > 0 else 0.0
    m.update(counters)
    return dict(m)


def median_by_key(dicts: list[dict]) -> dict:
    keys = set().union(*dicts) if dicts else set()
    return {k: statistics.median(d.get(k, 0.0) for d in dicts) for k in keys}


def environment(spark, sf_dir: str) -> dict:
    digest = hashlib.sha256()
    for p in sorted((ROOT / "jigsaw_spark").rglob("*.py")):
        digest.update(p.relative_to(ROOT).as_posix().encode())
        digest.update(p.read_bytes())
    try:
        commit = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True, text=True, timeout=10
        ).stdout.strip() or None
    except OSError:
        commit = None
    jvm = spark.sparkContext._jvm
    return {
        "engine": spark.sparkContext.master,
        "spark": spark.version,
        "java": jvm.java.lang.System.getProperty("java.version"),
        "python": platform.python_version(),
        "sf": sf_dir.rstrip("/").rsplit("sf", 1)[-1],
        "commit": commit,
        "source_sha256": digest.hexdigest(),
        "host_cpus": os.cpu_count(),
    }


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--setup-probe", action="store_true", help=argparse.SUPPRESS)
    args = ap.parse_args()

    work = HERE / ".work" / f"{args.workload}-{os.getpid()}"
    prepare_env(work)
    try:
        if args.setup_probe:
            setup_probe(args)
            return 0
        return bench(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def bench(args, work: Path) -> int:
    import tracing
    import workloads

    contract = json.loads((ROOT / "BENCHMARK.json").read_text())
    wl_cls = workloads.WORKLOADS[args.workload]
    tracer = tracing.Tracer()
    traced = bool(args.trace)

    children = [] if traced else start_setup_children(args, SETUP_SAMPLES - 1)
    try:
        spark, sf_dir, timings = setup(wl_cls, tracer if traced else None)
    finally:
        child_setups = finish_setup_children(children)
    setups = child_setups + [timings["setup_s"]]
    log(f"session up in {timings['setup_s']:.2f}s on {spark.sparkContext.master}")
    wl = None
    try:
        store = tracing.StatusStore(spark)
        wl = wl_cls(spark, sf_dir, args.seed, work)
        steps = [s.name for s in wl.steps]
        attempted = failed = 0

        def counted(rec):
            nonlocal attempted, failed
            attempted += len(steps)
            failed += len(rec["failed"])
            return rec

        cold = counted(run_pass(wl, tracer, traced, sink=wl.check_sink if wl.collects else None))
        outputs = cold["outputs"] if wl.collects else wl.read_back()
        log(f"cold pass {cold['wall']:.2f}s")
        untimed = [cold] + [counted(run_pass(wl, tracer, traced)) for _ in range(WARMUP_PASSES)]
        log("warm-up passes " + ", ".join(f"{p['wall']:.2f}s" for p in untimed[1:]))

        timed, traced_passes, layers = [], [], []
        sql_offset = store.sql_count()
        t_end = time.perf_counter() + args.seconds
        while len(timed) + len(traced_passes) < MIN_TIMED or time.perf_counter() < t_end:
            if traced and len(traced_passes) <= len(timed):
                store.drain()
                p = counted(run_pass(wl, tracer, True, plan=True))
                traced_passes.append(p)
                store.drain()
                execs = store.sql_executions(sql_offset)
                sql_offset += len(execs)
                layers.append(layer_metrics(p, tracer.run_spans(p["run"]), store.jobs(), store.stages(), execs, wl.counters()))
            else:
                timed.append(counted(run_pass(wl, tracer, False)))
        log("timed passes " + ", ".join(f"{p['wall']:.2f}s" for p in timed))
        if traced:
            log("traced passes " + ", ".join(f"{p['wall']:.2f}s" for p in traced_passes))

        checks = wl.verify(outputs, CORES)
        # a step that raised in the cold pass is already counted
        failed += sum(not c["ok"] and n not in cold["failed"] for n, c in checks.items())
        env = environment(spark, sf_dir)
        pids = [os.getpid()]
        proc = getattr(spark.sparkContext._gateway, "proc", None)
        if proc is not None:
            pids += [proc.pid] + descendants(proc.pid)
        rss = rss_peak_mb(pids)
    finally:
        teardown(spark)
        if wl is not None:
            wl.close()

    step_medians = {
        n: statistics.median(p["steps"][n]["s"] for p in timed if n in p["steps"])
        for n in steps
        if any(n in p["steps"] for p in timed)
    }
    if not step_medians:
        raise RuntimeError("no step completed a timed pass")
    walls = [p["wall"] for p in timed]
    if traced:
        per_layer = median_by_key(layers)
        per_layer["session.start_s"] = timings["session.start_s"]
        per_layer["session.rss_peak_mb"] = rss
        per_layer["trace.overhead_frac"] = (
            statistics.median(p["wall"] for p in traced_passes) / statistics.median(walls) - 1.0
        )
        specs = contract["per_layer"]
        metrics = {s["name"]: {"value": float(per_layer.get(s["name"], 0.0)), "unit": s["unit"]} for s in specs}
        unknown = sorted(set(per_layer) - {s["name"] for s in specs})
        if unknown:
            log(f"measured but not in BENCHMARK.json: {unknown}")
    else:
        values = {
            "setup_s": statistics.median(setups),
            "cold_s": cold["wall"],
            "wall_s": statistics.median(walls),
            "step_gmean_s": math.exp(statistics.fmean(math.log(v) for v in step_medians.values())),
        }
        metrics = {s["name"]: {"value": values[s["name"]], "unit": s["unit"]} for s in contract["end_to_end"]}
        log("setup samples " + ", ".join(f"{s:.2f}s" for s in setups))

    fail_frac = failed / attempted
    print(f"workload {args.workload} seed {args.seed} trace {args.trace} on {env['engine']}, "
          f"Spark {env['spark']}, Java {env['java']}, Python {env['python']}, sf{env['sf']}")
    for name, c in checks.items():
        status = "ok" if c["ok"] else f"FAILED {c['detail']}"
        print(f"check {name}: {c['rows']} rows, {status}")
    for name, v in metrics.items():
        print(f"{name} {v['value']:.6g} {v['unit']}")
    print(f"fail_frac {fail_frac:.6g} ratio ({failed}/{attempted} step runs)")

    results = HERE / "results"
    results.mkdir(exist_ok=True)
    record = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace, "seconds": args.seconds,
        "env": env, "metrics": metrics, "fail_frac": fail_frac, "checks": checks,
        "passes": {
            "cold": cold["wall"], "warmup": [p["wall"] for p in untimed[1:]],
            "timed": walls, "traced": [p["wall"] for p in traced_passes],
        },
        "step_medians": step_medians,
    }
    with open(results / "results.jsonl", "a") as f:
        f.write(json.dumps(record) + "\n")
    if traced:
        tracer.dump(results / f"spans-{args.workload}-seed{args.seed}.json")

    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
