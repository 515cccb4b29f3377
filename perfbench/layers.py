"""Per-layer measurement from outside the engine.

Two sources feed the traced run:

* ``Tracer`` keeps spans in memory (name, start, end, parent span,
  operation id) and writes them out once, when the run ends. The
  benchmark opens spans around its own calls into the engine's public
  functions; ``wrap_layers`` adds spans around the calls into the
  ``LAYERS`` packages' functions, and ``wrap_writers`` around
  DataFrameWriter's file writes. Wrappers replace names for the life of
  the traced run; the engine's code is not edited.
* ``StatusReader`` reads Spark's status store right after an operation,
  before the next operation's hygiene deletes the entries.
"""

from __future__ import annotations

import contextlib
import functools
import gc
import importlib
import inspect
import json
import os
import pkgutil
import sys
import time

ENGINE = "adtech_log_data_pipeline_spark"
_STAGE = "org.apache.spark.status.StageDataWrapper"
_JOB = "org.apache.spark.status.JobDataWrapper"
_SQL = "org.apache.spark.sql.execution.ui.SQLExecutionUIData"
_GRAPH = "org.apache.spark.sql.execution.ui.SparkPlanGraphWrapper"
#: plan-node name fragments of the Arrow/Python evaluation operators
_PYTHON_NODES = ("Python", "InPandas", "InArrow")
#: engine packages whose functions get spans when they are called
LAYERS = ("sources", "operators", "functions", "streaming")


class Tracer:
    """In-memory span recorder. ``enabled=False`` makes every call a
    no-op, so the untraced run pays one attribute test per span."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.op_id: str | None = None

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        rec = {
            "id": len(self.spans),
            "name": name,
            "op": self.op_id,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.time(),  # wall clock, as the JVM's job timestamps
            "end": None,
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.time()

    def op_spans(self, op_id: str) -> list[dict]:
        return [s for s in self.spans if s["op"] == op_id]

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s, default=str) + "\n")


def layer_time(spans: list[dict], layer: str) -> float:
    """Wall seconds covered by the outermost spans of ``layer`` (spans of
    the same layer nested inside each other count once)."""
    by_id = {s["id"]: s for s in spans}
    total = 0.0
    for s in spans:
        if not s["name"].startswith(layer + "."):
            continue
        p = by_id.get(s["parent"])
        nested = False
        while p is not None:
            if p["name"].startswith(layer + "."):
                nested = True
                break
            p = by_id.get(p["parent"])
        if not nested:
            total += s["end"] - s["start"]
    return total


def _spanned(tracer: Tracer, name: str, fn):
    @functools.wraps(fn)
    def wrapper(*a, **k):
        with tracer.span(name):
            return fn(*a, **k)

    return wrapper


def _layer_of(fn) -> str | None:
    """The ``LAYERS`` package of a plain public function that its own
    module exposes under its own name, else None. Only such functions
    are wrapped: cloudpickle then ships a wrapper by reference, so the
    Python workers import the original function."""
    if not inspect.isfunction(fn) or "." in fn.__qualname__ or fn.__name__.startswith("_"):
        return None
    parts = (fn.__module__ or "").split(".")
    if len(parts) < 2 or parts[0] != ENGINE or parts[1] not in LAYERS:
        return None
    return parts[1] if getattr(sys.modules.get(fn.__module__), fn.__name__, None) is fn else None


def layer_modules() -> list:
    """Every module of the ``LAYERS`` packages, imported if need be (the
    plan modules import most of them lazily, inside the query function)."""
    mods = []
    for layer in LAYERS:
        pkg = importlib.import_module(f"{ENGINE}.{layer}")
        mods.append(pkg)
        mods += [importlib.import_module(m.name)
                 for m in pkgutil.walk_packages(pkg.__path__, pkg.__name__ + ".")]
    return mods


def wrap_layers(tracer: Tracer, modules) -> list[tuple]:
    """Record a ``<layer>.<name>`` span around every call into a
    ``LAYERS`` package's functions: one wrapper per function, put in its
    own module and under every name ``modules`` and the layer modules
    bound it to (load-time imports, lazy imports and calls between
    layer functions all read one of these). Returns the undo list for
    ``unwrap``."""
    wrappers: dict[int, object] = {}
    undo = []
    for mod in [*modules, *layer_modules()]:
        for attr, fn in list(vars(mod).items()):
            if id(fn) not in wrappers:
                layer = _layer_of(fn)
                if layer is None:
                    continue
                wrappers[id(fn)] = _spanned(tracer, f"{layer}.{fn.__name__}", fn)
            undo.append((mod, attr, fn))
    for mod, attr, fn in undo:
        setattr(mod, attr, wrappers[id(fn)])
    return undo


def wrap_writers(tracer: Tracer) -> list[tuple]:
    """``jobs.write`` spans around DataFrameWriter's file writes (the
    jobs' sinks). Returns the undo list for ``unwrap``."""
    from pyspark.sql.readwriter import DataFrameWriter

    undo = []
    for attr in ("parquet", "json", "text", "save"):
        fn = getattr(DataFrameWriter, attr)
        undo.append((DataFrameWriter, attr, fn))
        setattr(DataFrameWriter, attr, _spanned(tracer, "jobs.write", fn))
    return undo


def unwrap(undo: list[tuple]) -> None:
    for owner, attr, fn in undo:
        setattr(owner, attr, fn)


def span_time(spans: list[dict], name: str) -> float:
    """Total duration of the spans called ``name``."""
    return sum(s["end"] - s["start"] for s in spans if s["name"] == name)


def is_layer_span(name: str) -> bool:
    """Spans that count towards an operation's cover: the wrapped calls
    into the ``LAYERS`` packages (and the benchmark's own calls into
    ``sources``), the jobs' file writes and the traced Catalyst planning.
    The coarse spans around whole job or query calls do not count."""
    return name.startswith(tuple(p + "." for p in LAYERS)) or name in ("jobs.write", "plans.catalyst")


def covered(spans: list[dict], windows: list[tuple[float, float]], start: float, end: float) -> float:
    """Seconds of ``[start, end]`` covered by the union of the layer
    spans and the Spark execution ``windows``; the rest of the operation
    is driver residue."""
    iv = sorted(
        (max(a, start), min(b, end))
        for a, b in [(s["start"], s["end"]) for s in spans if is_layer_span(s["name"])] + windows
        if min(b, end) > max(a, start)
    )
    total, reach = 0.0, start
    for a, b in iv:
        a = max(a, reach)
        if b > a:
            total += b - a
            reach = b
    return total


def jobs_in(spans: list[dict], prefix: str, windows: list[tuple[float, float]]) -> int:
    """Spark jobs submitted inside any span named ``prefix*``."""
    spans_ab = [(s["start"], s["end"]) for s in spans if s["name"].startswith(prefix)]
    return sum(any(a <= t <= b for a, b in spans_ab) for t, _end in windows)


# --- Spark status store -----------------------------------------------------


class StatusReader:
    """Reads stage, job and SQL-execution entries of the status store.

    Entries accumulate from one ``trim_status_store`` to the next, so a
    read right after an operation (whose hygiene ran just before it)
    sees exactly that operation's work."""

    def __init__(self, spark):
        self.spark = spark
        self.jsc = spark.sparkContext._jsc.sc()
        self.jvm = spark._jvm
        self.store = self.jsc.statusStore().store()
        self.sql_store = spark._jsparkSession.sharedState().statusStore()

    def _cls(self, name: str):
        return self.jvm.java.lang.Class.forName(name)

    def _each(self, name: str):
        it = self.store.view(self._cls(name)).closeableIterator()
        try:
            while it.hasNext():
                yield it.next()
        finally:
            it.close()

    def drain(self) -> None:
        """Wait until the listener bus has delivered every event."""
        self.jsc.listenerBus().waitUntilEmpty(30_000)

    def job_windows(self) -> list[tuple[float, float]]:
        """(submitted, completed) wall-clock seconds of the finished jobs
        in the store."""
        out = []
        for w in self._each(_JOB):
            info = w.info()
            sub, done = info.submissionTime(), info.completionTime()
            if sub.isDefined() and done.isDefined():
                out.append((sub.get().getTime() / 1000.0, done.get().getTime() / 1000.0))
        return out

    def exec_windows(self) -> list[tuple[float, float]]:
        """Spark execution windows: every finished job and SQL execution
        in the store, (start, end) in wall-clock seconds."""
        out = self.job_windows()
        for w in self._each(_SQL):
            done = w.completionTime()
            if done.isDefined():
                out.append((w.submissionTime() / 1000.0, done.get().getTime() / 1000.0))
        return out

    def read(self, plan_nodes: bool = True) -> dict:
        """Totals over every entry currently in the store."""
        self.drain()
        st = {
            "stages": 0, "tasks": 0, "task_s": 0.0, "gc_s": 0.0,
            "input_mb": 0.0, "shuffle_read_mb": 0.0, "shuffle_write_mb": 0.0,
            "spill_mb": 0.0,
        }
        mb = 1 / (1 << 20)
        for w in self._each(_STAGE):
            s = w.info()
            st["stages"] += 1
            st["tasks"] += s.numTasks()
            st["task_s"] += s.executorRunTime() / 1000.0
            st["gc_s"] += s.jvmGcTime() / 1000.0
            st["input_mb"] += s.inputBytes() * mb
            st["shuffle_read_mb"] += s.shuffleReadBytes() * mb
            st["shuffle_write_mb"] += s.shuffleWriteBytes() * mb
            st["spill_mb"] += (s.memoryBytesSpilled() + s.diskBytesSpilled()) * mb
        st["jobs"] = int(self.store.count(self._cls(_JOB)))
        st["sql_executions"] = int(self.store.count(self._cls(_SQL)))
        if plan_nodes:
            st.update(self._plan_nodes())
        return st

    def _plan_nodes(self) -> dict:
        """Rows out of the Arrow/Python operators and the number of scan
        nodes over files read with ``binaryFile`` (the TFRecord input)."""
        python_rows = 0
        binary_scans = 0
        for g in self._each(_GRAPH):
            values = None
            for node in self._nodes(g.nodes()):
                name = node.name()
                if name.startswith("Scan") and "binaryFile" in (name + node.desc()):
                    binary_scans += 1
                if not any(p in name for p in _PYTHON_NODES):
                    continue
                if values is None:
                    values = self._metric_values(g.executionId())
                ms = node.metrics()
                for j in range(ms.size()):
                    m = ms.apply(j)
                    if m.name() == "number of output rows":
                        python_rows += _count(values.get(m.accumulatorId()))
        return {"python_rows": python_rows, "binary_scans": binary_scans}

    def _nodes(self, seq):
        for k in range(seq.size()):
            w = seq.apply(k)
            node = w.node()
            if node is not None:
                yield node
            else:
                yield from self._nodes(w.cluster().nodes())

    def _metric_values(self, execution_id: int) -> dict:
        out = {}
        it = self.sql_store.executionMetrics(execution_id).iterator()
        while it.hasNext():
            kv = it.next()
            out[kv._1()] = kv._2()
        return out

    def cached(self) -> tuple[float, int]:
        """(MB, frames) of persisted RDD storage right now."""
        infos = self.jsc.getRDDStorageInfo()
        mb = sum(i.memSize() + i.diskSize() for i in infos) / (1 << 20)
        return mb, len(infos)

    def heap_after_gc_mb(self, rounds: int = 5) -> float:
        """Lowest heap use seen over a few full GCs a moment apart (the
        context cleaner frees broadcast and shuffle state only after a GC
        has cleared their weak references)."""
        gc.collect()  # drop Python handles that pin JVM objects
        rt = self.jvm.java.lang.Runtime.getRuntime()
        used = []
        for _ in range(rounds):
            self.jvm.java.lang.System.gc()
            time.sleep(0.3)
            used.append((rt.totalMemory() - rt.freeMemory()) / (1 << 20))
        return min(used)


def _count(text) -> int:
    """A SUM metric's display string ("1,234") as an int; other shapes
    (absent, or a "total (min, med, max)" block) count as 0."""
    if not text:
        return 0
    first = str(text).split("\n")[0].replace(",", "").strip()
    return int(first) if first.isdigit() else 0


def catalyst_seconds(df) -> float:
    """Analysis + optimization + planning of ``df``'s own QueryExecution,
    forcing its physical plan (traced runs only: the write plans again)."""
    qe = df._jdf.queryExecution()
    qe.executedPlan()
    total = 0
    it = qe.tracker().phases().iterator()
    while it.hasNext():
        total += it.next()._2().durationMs()
    return total / 1000.0


def du_mb(*roots: str) -> float:
    total = 0
    for root in roots:
        for dirpath, _dirs, files in os.walk(root):
            for f in files:
                try:
                    total += os.lstat(os.path.join(dirpath, f)).st_size
                except OSError:
                    pass
    return total / (1 << 20)


def cpu_times() -> tuple[int, int]:
    """(steal, total) jiffies from /proc/stat."""
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:]]
    return (vals[7] if len(vals) > 7 else 0), sum(vals)
