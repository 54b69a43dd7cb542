"""Spans around calls into jigsaw_spark's layers, and counters read from
Spark's own status stores.

Nothing here lives inside ``jigsaw_spark``: the benchmark replaces the
public functions of the layer modules with thin wrappers before the query
modules import them, and it reads jobs, stages and SQL node metrics from
``sc.statusStore()`` and ``sharedState().statusStore()``, which work with
``spark.ui.enabled=false``.
"""

from __future__ import annotations

import functools
import importlib
import inspect
import itertools
import json
import pkgutil
import re
import sys
import threading
import time

# Packages whose public functions get a span each, plus one named function.
LAYER_PACKAGES = (
    "jigsaw_spark.operators",
    "jigsaw_spark.multimodal",
    "jigsaw_spark.sources",
    "jigsaw_spark.streaming",
)
EXTRA_FUNCTIONS = (("jigsaw_spark.session", "load_table"),)
# pyspark DataFrame methods that materialize on the driver's behalf.
BARRIER_METHODS = ("localCheckpoint", "checkpoint")
COLLECT_METHODS = ("collect", "toPandas")


class Tracer:
    """In-memory span log. A span is ``[id, name, start, end, parent, run]``
    with epoch-second times, so jobs (whose submission time Spark records in
    epoch milliseconds) can be attributed to the innermost span covering
    them. Spans nest per thread."""

    def __init__(self) -> None:
        self.spans: list[list] = []
        self.enabled = False
        self.run_id = 0
        self._ids = itertools.count()
        self._local = threading.local()

    def call(self, name: str, fn, args, kwargs):
        if not self.enabled:
            return fn(*args, **kwargs)
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        rec = [next(self._ids), name, time.time(), None, stack[-1] if stack else None, self.run_id]
        self.spans.append(rec)
        stack.append(rec[0])
        try:
            return fn(*args, **kwargs)
        finally:
            rec[3] = time.time()
            stack.pop()

    def run_spans(self, run_id: int) -> list[list]:
        return [s for s in self.spans if s[5] == run_id and s[3] is not None]

    def dump(self, path) -> None:
        keys = ("id", "name", "start", "end", "parent", "run")
        with open(path, "w") as f:
            json.dump([dict(zip(keys, s)) for s in self.spans], f)


class _Traced:
    """Callable stand-in for a module-level function. It pickles as a lookup
    of the original by module and name, so a kernel shipped to a Python
    worker runs there unwrapped."""

    def __init__(self, tracer: Tracer, module: str, name: str, fn) -> None:
        functools.update_wrapper(self, fn)
        self._tracer, self._module, self._name, self._fn = tracer, module, name, fn
        self._span = f"{module.removeprefix('jigsaw_spark.')}.{name}"

    def __call__(self, *args, **kwargs):
        return self._tracer.call(self._span, self._fn, args, kwargs)

    def __reduce__(self):
        return (getattr, (sys.modules[self._module], self._name))


def _layer_functions():
    for pkg_name in LAYER_PACKAGES:
        pkg = importlib.import_module(pkg_name)
        mods = [pkg] + [
            importlib.import_module(m.name)
            for m in pkgutil.walk_packages(pkg.__path__, pkg_name + ".")
        ]
        for mod in mods:
            for name, obj in vars(mod).items():
                if (
                    inspect.isfunction(obj)
                    and obj.__module__ == mod.__name__
                    and not name.startswith("_")
                    and not hasattr(obj, "evalType")  # pandas_udf/udf objects
                ):
                    yield mod.__name__, name, obj
    for mod_name, name in EXTRA_FUNCTIONS:
        yield mod_name, name, getattr(importlib.import_module(mod_name), name)


def install(tracer: Tracer) -> None:
    """Wrap every layer function and rebind each ``jigsaw_spark`` module's
    reference to it. Must run before ``jigsaw_spark.plans`` is imported: the
    query modules bind these names at import."""
    if any(m.startswith("jigsaw_spark.plans") for m in sys.modules):
        raise RuntimeError("install() must run before jigsaw_spark.plans is imported")
    wrapped = {id(fn): _Traced(tracer, mod, name, fn) for mod, name, fn in _layer_functions()}
    for mod_name, mod in list(sys.modules.items()):
        if mod_name.startswith("jigsaw_spark") and mod is not None:
            for attr, val in list(vars(mod).items()):
                if id(val) in wrapped:
                    setattr(mod, attr, wrapped[id(val)])

    from pyspark.sql.classic.dataframe import DataFrame

    for meth in BARRIER_METHODS + COLLECT_METHODS:
        orig = getattr(DataFrame, meth)

        def method(self, *args, __orig=orig, __name=f"spark.{meth}", **kwargs):
            return tracer.call(__name, __orig, (self, *args), kwargs)

        functools.update_wrapper(method, orig)
        setattr(DataFrame, meth, method)


# -- Spark status stores -------------------------------------------------------


class StatusStore:
    """JSON snapshots of Spark's status stores, one py4j call each."""

    def __init__(self, spark) -> None:
        sc = spark.sparkContext
        jvm = sc._jvm
        scala = getattr(getattr(jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$"), "MODULE$")
        self._mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper().registerModule(scala)
        self._core = sc._jsc.sc().statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._bus = sc._jsc.sc().listenerBus()
        self._empty = jvm.java.util.Collections.emptyList()
        self._no_quantiles = sc._gateway.new_array(jvm.double, 0)

    def _json(self, obj):
        return json.loads(self._mapper.writeValueAsString(obj))

    def drain(self) -> None:
        """Wait until the listener bus has delivered every event so far."""
        self._bus.waitUntilEmpty()

    def sql_count(self) -> int:
        return int(self._sql.executionsCount())

    def jobs(self) -> list[dict]:
        return self._json(self._core.jobsList(None))

    def stages(self) -> list[dict]:
        return self._json(
            self._core.stageList(self._empty, False, False, self._no_quantiles, self._empty)
        )

    def sql_executions(self, offset: int) -> list[dict]:
        """Executions from ``offset`` on, each with ``values`` (metric name
        → value summed over plan nodes, in seconds, bytes or a count) and,
        for a checkpoint, ``checkpoint_rows``: the output rows of the
        topmost plan node that counts them."""
        out = []
        for ex in self._json(self._sql.executionsList(offset, 1 << 20)):
            eid = ex["executionId"]
            raw = ex.get("metricValues") or self._json(self._sql.executionMetrics(eid))
            values: dict[str, float] = {}
            # adaptive re-plans list a node's metrics again under the same id
            names = {str(m["accumulatorId"]): m["name"] for m in ex["metrics"]}
            for acc, name in names.items():
                if acc in raw:
                    values[name] = values.get(name, 0.0) + parse_metric(raw[acc])
            rows = None
            if (ex.get("description") or "").startswith(("localCheckpoint", "checkpoint")):
                nodes = sorted(self._json(self._sql.planGraph(eid))["allNodes"], key=lambda n: n["id"])
                for node in nodes:
                    acc = [m["accumulatorId"] for m in node["metrics"] if m["name"] == "number of output rows"]
                    if acc:
                        rows = parse_metric(raw.get(str(acc[0]), "0"))
                        break
            out.append({"submitted": ex["submissionTime"] / 1000.0, "values": values, "checkpoint_rows": rows})
        return out


_UNITS = {
    "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
    "B": 1.0, "KiB": 2.0**10, "MiB": 2.0**20, "GiB": 2.0**30, "TiB": 2.0**40,
}
_VALUE = re.compile(r"^\s*(-?[\d,]*\.?\d+)\s*([A-Za-z]*)")


def parse_metric(text: str) -> float:
    """A status-store metric string ("5.2 s", "2.3 MiB", "1,204", or a
    "total (min, med, max ...)" header over such a line) → seconds, bytes
    or a plain count."""
    lines = text.strip().split("\n")
    line = lines[1] if len(lines) > 1 and lines[0].startswith("total") else lines[0]
    m = _VALUE.match(line)
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2), 1.0)


def innermost(spans: list[list], t: float):
    """The span with the latest start among those covering time ``t``."""
    best = None
    for s in spans:
        if s[2] <= t <= s[3] and (best is None or s[2] >= best[2]):
            best = s
    return best


def self_times(spans: list[list]) -> dict[int, float]:
    """Span id → duration minus the part its children cover (children of
    one parent on one thread do not overlap)."""
    own = {s[0]: s[3] - s[2] for s in spans}
    for s in spans:
        if s[4] in own:
            own[s[4]] -= s[3] - s[2]
    return own
