"""In-memory span tracer, applied from outside the program.

Spans are recorded around calls into each module's public functions by
replacing those functions with timed wrappers (``patch``). A span keeps
its name, start, end, parent span and request id; a layer's self time is
its spans' durations minus the time their child spans cover. Nothing in
the program is edited: the wrappers are installed by the benchmark's
own entry points before the workload starts.
"""

from __future__ import annotations

import contextlib
import functools
import inspect
import sys
import threading
import time
from collections import defaultdict

now = time.monotonic


class Tracer:
    def __init__(self):
        self.spans: list[list] = []  # [name, start, end, parent, rid, child_s]
        self.counts: dict[str, float] = defaultdict(float)
        # (name, enclosing span) -> [calls, seconds] of light-timed calls
        self.light: dict[tuple, list[float]] = defaultdict(lambda: [0, 0.0])
        self._local = threading.local()
        self._lock = threading.Lock()
        self.enabled = False

    def _stack(self) -> list[int]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def set_rid(self, rid) -> None:
        self._local.rid = rid

    def begin(self, name: str) -> int:
        st = self._stack()
        parent = st[-1] if st else None
        with self._lock:
            self.spans.append([name, now(), None, parent, getattr(self._local, "rid", None), 0.0])
            st.append(len(self.spans) - 1)
        return st[-1]

    def end(self, idx: int) -> None:
        span = self.spans[idx]
        span[2] = now()
        self._stack().pop()
        if span[3] is not None:
            self.spans[span[3]][5] += span[2] - span[1]

    def light_timed(self, name: str, fn):
        """A wrapper that only accumulates calls and time (for per-row
        functions), charged as child time of the enclosing span."""

        @functools.wraps(fn)
        def wrapper(*a, **kw):
            if not self.enabled:
                return fn(*a, **kw)
            t0 = now()
            try:
                return fn(*a, **kw)
            finally:
                dt = now() - t0
                st = self._stack()
                parent = st[-1] if st else None
                acc = self.light[(name, parent)]
                acc[0] += 1
                acc[1] += dt
                if parent is not None:
                    self.spans[parent][5] += dt

        return wrapper

    def timed(self, name: str, fn):
        @functools.wraps(fn)
        def wrapper(*a, **kw):
            if not self.enabled:
                return fn(*a, **kw)
            idx = self.begin(name)
            try:
                return fn(*a, **kw)
            finally:
                self.end(idx)

        return wrapper

    @contextlib.contextmanager
    def span(self, name: str):
        idx = self.begin(name) if self.enabled else None
        try:
            yield
        finally:
            if idx is not None:
                self.end(idx)

    def layer_stats(self, t_from: float, t_to: float = float("inf")) -> dict[str, dict]:
        """Per span name: calls, total and self seconds, for spans that
        started in [t_from, t_to)."""
        out: dict[str, dict] = defaultdict(lambda: {"calls": 0, "total_s": 0.0, "self_s": 0.0})
        for name, t0, t1, _parent, _rid, child in self.spans:
            if t1 is None or not t_from <= t0 < t_to:
                continue
            s = out[name]
            s["calls"] += 1
            s["total_s"] += t1 - t0
            s["self_s"] += (t1 - t0) - child
        for (name, parent), (calls, total) in self.light.items():
            if parent is not None and t_from <= self.spans[parent][1] < t_to:
                s = out[name]
                s["calls"] += calls
                s["total_s"] += total
                s["self_s"] += total
        return dict(out)

    def span_cost_s(self, n: int = 20000) -> float:
        """Measured cost of recording one span (the tracing overhead
        unit), on a scratch tracer so the real span list is untouched."""
        probe = Tracer()
        probe.enabled = True
        f = probe.timed("probe", lambda: None)
        t0 = time.perf_counter()
        for _ in range(n):
            f()
        return (time.perf_counter() - t0) / n


def patch(tracer: Tracer, owner, attr: str, name: str, light: bool = False) -> None:
    """Wrap ``owner.attr`` and rebind every module-level alias of the
    original function (``from x import f`` copies) to the wrapper."""
    orig = inspect.getattr_static(owner, attr)
    is_static = isinstance(orig, staticmethod)
    fn = orig.__func__ if is_static else getattr(owner, attr)
    wrapped = (tracer.light_timed if light else tracer.timed)(name, fn)
    setattr(owner, attr, staticmethod(wrapped) if is_static else wrapped)
    if inspect.isclass(owner):
        return
    for mod in list(sys.modules.values()):
        d = getattr(mod, "__dict__", None)
        if d is None or mod is owner:
            continue
        for k, v in list(d.items()):
            if v is fn:
                d[k] = wrapped


def patch_package(tracer: Tracer, package: str, prefix: str) -> None:
    """Wrap every public function defined in each module of ``package``
    as span ``<prefix>.<module>``."""
    import importlib
    import pkgutil

    pkg = importlib.import_module(package)
    for info in pkgutil.iter_modules(pkg.__path__):
        mod = importlib.import_module(f"{package}.{info.name}")
        for k, v in list(vars(mod).items()):
            if (
                not k.startswith("_")
                and inspect.isfunction(v)
                and v.__module__ == mod.__name__
            ):
                patch(tracer, mod, k, f"{prefix}.{info.name}")


def patch_spark_actions(tracer: Tracer) -> None:
    """Driver-side Spark actions: collect, count, checkpoint and writes."""
    from pyspark.sql.classic.dataframe import DataFrame
    from pyspark.sql.readwriter import DataFrameWriter

    patch(tracer, DataFrame, "collect", "spark.collect")
    patch(tracer, DataFrame, "count", "spark.count")
    patch(tracer, DataFrame, "toPandas", "spark.collect")
    patch(tracer, DataFrame, "localCheckpoint", "spark.checkpoint")
    for attr in ("save", "parquet"):
        patch(tracer, DataFrameWriter, attr, "spark.write")


def patch_engine(tracer: Tracer) -> None:
    """The service layers below the wire: engine, dialect, result, dag."""
    from bq_duckdb_spark import dag, dialect, engine, result

    S = engine.Session
    patch(tracer, S, "query", "engine.query")
    patch(tracer, S, "insert", "engine.insert")
    patch(tracer, S, "_coerce_row", "engine.insert_coerce", light=True)
    patch(tracer, S, "_rebase_inserts", "engine.insert_rebase")
    patch(tracer, S, "_compact_inserts", "engine.insert_compact")
    patch(tracer, S, "materialize", "engine.materialize")
    patch(tracer, S, "load_parquet", "engine.load_parquet")
    patch(tracer, dialect, "transpile", "dialect.transpile")
    patch(tracer, dialect, "extract_dependencies", "dialect.extract_dependencies")
    patch(tracer, result, "to_bq_response", "result.encode")
    P = dag.Pipeline
    patch(tracer, P, "register", "dag.register")
    patch(tracer, P, "run", "dag.run")
    patch(tracer, P, "execute_table", "dag.execute_table")


def child_total(tracer: Tracer, child: str, parent: str, t_from: float) -> tuple[int, float]:
    """Calls and seconds of ``child`` spans directly under ``parent``."""
    n, total = 0, 0.0
    for name, t0, t1, p, _rid, _c in tracer.spans:
        if name == child and t1 is not None and t0 >= t_from and p is not None:
            if tracer.spans[p][0] == parent:
                n += 1
                total += t1 - t0
    return n, total


SPARK_FIELDS = {
    "spark.executor_run_ms": ("executorRunTime", 1.0),
    "spark.executor_cpu_ms": ("executorCpuTime", 1e-6),
    "spark.jvm_gc_ms": ("jvmGcTime", 1.0),
    "spark.input_bytes": ("inputBytes", 1.0),
    "spark.shuffle_read_bytes": ("shuffleReadBytes", 1.0),
    "spark.shuffle_write_bytes": ("shuffleWriteBytes", 1.0),
    "spark.output_bytes": ("outputBytes", 1.0),
}


def spark_totals(spark_context, match) -> dict[str, float]:
    """Jobs, stages, tasks and stage metrics of every job whose tags
    satisfy ``match(tags)``, read from the in-process status store."""
    sc = spark_context
    jvm = sc._jvm
    conv = jvm.scala.jdk.javaapi.CollectionConverters
    store = sc._jsc.sc().statusStore()
    stage_ids: set[int] = set()
    jobs = 0
    for job in conv.asJava(store.jobsList(None)):
        tags = list(conv.asJava(job.jobTags()))
        if match(tags):
            jobs += 1
            stage_ids.update(conv.asJava(job.stageIds()))
    out = {k: 0.0 for k in SPARK_FIELDS}
    out["spark.tasks"] = 0.0
    stages = 0
    no_quantiles = sc._gateway.new_array(jvm.double, 0)
    for st in conv.asJava(store.stageList(None, False, False, no_quantiles, None)):
        if st.stageId() in stage_ids and str(st.status()) == "COMPLETE":
            stages += 1
            out["spark.tasks"] += st.numCompleteTasks()
            for key, (field, scale) in SPARK_FIELDS.items():
                out[key] += getattr(st, field)() * scale
    out["spark.jobs"] = jobs
    out["spark.stages"] = stages
    out["spark.storage_rdds_end"] = len(sc._jsc.sc().getRDDStorageInfo())
    return out
