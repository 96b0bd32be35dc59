"""Spans around the package's public functions, and Spark's own counters.

The package is not modified: :class:`Instrumentation` rebinds the public functions
of the traced modules to recording wrappers for the duration of a ``with``
block and restores every binding on exit. Spans stay in memory; the caller
writes them out when the run ends.

A span is ``{id, parent, op, name, start, end}`` (``perf_counter`` seconds).
Spans of one op share its ``op`` id; the op's own span is the root.
"""

from __future__ import annotations

import contextlib
import functools
import sys
import time
import types

#: modules whose public functions get a span, by the layer name used in the
#: metric names (``operators.<family>``, ``io``, ``streaming``)
OPERATOR_FAMILIES = ("dedup", "text", "similarity", "curation", "retrieval", "layout", "graph")

#: single functions traced by name: (module, function, layer-qualified span name)
NAMED = (
    ("datafusion_gpu_spark.context", "get_spark", "context.get_spark"),
    ("datafusion_gpu_spark.context", "build_ctx", "context.build_ctx"),
    ("datafusion_gpu_spark.context", "register_tables", "context.register_tables"),
    ("datafusion_gpu_spark.queries", "load", "queries.load"),
    ("datafusion_gpu_spark.aggregates", "register_aggregates", "aggregates.register_aggregates"),
    ("datafusion_gpu_spark.repl", "run_sql", "repl.run_sql"),
    ("datafusion_gpu_spark.dialect", "check_dialect", "dialect.check_dialect"),
    ("datafusion_gpu_spark.dialect", "rewrite_reference_sums", "dialect.rewrite_reference_sums"),
    ("datafusion_gpu_spark.dialect", "rewrite_qualify", "dialect.rewrite_qualify"),
)


class Tracer:
    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.op: str | None = None

    @contextlib.contextmanager
    def span(self, name: str):
        sid = len(self.spans)
        rec = {
            "id": sid,
            "parent": self._stack[-1] if self._stack else None,
            "op": self.op,
            "name": name,
            "start": time.perf_counter(),
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()


class _Traced:
    """Callable stand-in for a package function. Pickling it pickles the
    original by reference, so a UDF that refers to a traced function ships
    the untraced one to the Python workers."""

    def __init__(self, tracer: Tracer, name: str, fn):
        functools.update_wrapper(self, fn)
        self._tracer, self._name, self._fn = tracer, name, fn

    def __call__(self, *args, **kwargs):
        with self._tracer.span(self._name):
            return self._fn(*args, **kwargs)

    def __reduce__(self):
        return self._fn.__qualname__


def _targets() -> list[tuple[object, str]]:
    """(original function, span name) for everything traced."""
    import importlib

    out = [(getattr(importlib.import_module(m), f), name) for m, f, name in NAMED]
    layers = [(f"datafusion_gpu_spark.operators.{fam}", f"operators.{fam}") for fam in OPERATOR_FAMILIES]
    layers += [("datafusion_gpu_spark.io", "io"), ("datafusion_gpu_spark.streaming", "streaming")]
    for modname, layer in layers:
        mod = importlib.import_module(modname)
        for attr, fn in vars(mod).items():
            if isinstance(fn, types.FunctionType) and fn.__module__ == modname and not attr.startswith("_"):
                out.append((fn, f"{layer}.{attr}"))
    return out


class Instrumentation:
    """Every module-level binding of each traced function, including
    ``from x import f`` copies, found once; :meth:`active` rebinds them to
    recording wrappers and restores the originals on exit."""

    def __init__(self, tracer: Tracer):
        import importlib
        import pkgutil

        import datafusion_gpu_spark

        for info in pkgutil.walk_packages(datafusion_gpu_spark.__path__, "datafusion_gpu_spark."):
            if not info.name.endswith("__main__"):  # importing it starts the REPL
                importlib.import_module(info.name)
        wrappers = {id(fn): (fn, _Traced(tracer, name, fn)) for fn, name in _targets()}
        self._sites = [
            (mod, attr, val, wrappers[id(val)][1])
            for modname, mod in list(sys.modules.items())
            if mod is not None and modname.startswith("datafusion_gpu_spark")
            for attr, val in vars(mod).items()
            if id(val) in wrappers and wrappers[id(val)][0] is val
        ]

    @contextlib.contextmanager
    def active(self):
        for mod, attr, _, wrapper in self._sites:
            setattr(mod, attr, wrapper)
        try:
            yield
        finally:
            for mod, attr, original, _ in self._sites:
                setattr(mod, attr, original)


def _covered(intervals) -> float:
    """Length of the union of (start, end) intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_time(spans: list[dict], span: dict) -> float:
    """Duration of ``span`` minus the part of it its children cover."""
    kids = [(s["start"], s["end"]) for s in spans if s["parent"] == span["id"]]
    return (span["end"] - span["start"]) - _covered(kids)


def _scala_seq(jvm, seq) -> list:
    return list(jvm.scala.jdk.javaapi.CollectionConverters.asJava(seq))


def _metric_ms(text: str) -> float:
    """Parse a Spark SQL timing metric string: '1.2 s', '45 ms', or the
    multi-task form 'total (min, med, max ...)\\n1.2 s (...)'."""
    value, unit = text.split("\n")[-1].split()[:2]
    return float(value) * {"ms": 1.0, "s": 1e3, "m": 6e4, "h": 3.6e6}[unit]


class SparkProbe:
    """Per-op engine counters, read from the Spark driver's status stores with
    the UI off. One op = one job group."""

    PYTHON_TIME = "time to run Python workers"

    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self.jvm = spark._jvm
        self._jsc = self.sc._jsc.sc()
        self._store = self._jsc.statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._gc_beans = list(self.jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans())
        self._seen = self._sql.executionsCount()

    def gc_ms(self) -> float:
        return float(sum(b.getCollectionTime() for b in self._gc_beans))

    def next_job_id(self) -> int:
        return self._jsc.dagScheduler().numTotalJobs()

    def begin(self, group: str) -> int:
        """Start an op: jobs from here on run under ``group``. Returns the
        first job id the op can own."""
        self.sc.setJobGroup(group, group)
        return self.next_job_id()

    def end(self, first_job: int, wall_lo_ms: float, wall_hi_ms: float) -> dict:
        """Counters for the op that began at ``first_job`` and ran between
        the two epoch times; clears the job group. With one client every job
        submitted meanwhile is the op's, including those streaming threads
        start outside the group."""
        self.sc.setLocalProperty("spark.jobGroup.id", None)
        self.sc.setLocalProperty("spark.job.description", None)
        self._jsc.listenerBus().waitUntilEmpty()
        out = dict.fromkeys(
            ("stages", "tasks", "executor_run_ms", "executor_cpu_ms",
             "shuffle_read_bytes", "shuffle_write_bytes"), 0.0)
        jobs = range(first_job, self.next_job_id())
        out["jobs"] = len(jobs)
        intervals = []
        tracker = self.sc.statusTracker()
        for jid in jobs:
            info = tracker.getJobInfo(jid)
            for sid in info.stageIds if info else ():
                try:
                    sd = self._store.lastStageAttempt(sid)
                except Exception:  # py4j error: stage evicted or never submitted
                    continue
                if sd.status().toString() == "SKIPPED":
                    continue
                out["stages"] += 1
                out["tasks"] += sd.numCompleteTasks()
                out["executor_run_ms"] += sd.executorRunTime()
                out["executor_cpu_ms"] += sd.executorCpuTime() / 1e6
                out["shuffle_read_bytes"] += sd.shuffleReadBytes()
                out["shuffle_write_bytes"] += sd.shuffleWriteBytes()
                sub, done = sd.submissionTime(), sd.completionTime()
                if sub.isDefined():
                    end = done.get().getTime() if done.isDefined() else wall_hi_ms
                    intervals.append((float(sub.get().getTime()), float(end)))
        out["stage_busy_ms"] = _covered(
            (max(s, wall_lo_ms), min(e, wall_hi_ms)) for s, e in intervals if e > wall_lo_ms and s < wall_hi_ms
        )
        out["python_eval_ms"], out["microbatches"] = self._new_executions()
        return out

    def _new_executions(self) -> tuple[float, int]:
        """('time to run Python workers' ms, streaming micro-batches) over
        the SQL executions that started since the previous call. Only plans
        with a Python node are walked."""
        total, batches = 0.0, set()
        n = self._sql.executionsCount()
        fresh, self._seen = n - self._seen, n
        if fresh <= 0:
            return total, 0
        for ex in _scala_seq(self.jvm, self._sql.executionsList(n - fresh, fresh)):
            desc = ex.description() or ""
            if "batch = " in desc:
                batches.add(desc)
            plan = ex.physicalPlanDescription() or ""
            if "Python" not in plan and "Pandas" not in plan:
                continue
            eid = ex.executionId()
            ids = [
                m.accumulatorId()
                for node in _scala_seq(self.jvm, self._sql.planGraph(eid).allNodes())
                for m in _scala_seq(self.jvm, node.metrics())
                if m.name() == self.PYTHON_TIME
            ]
            if ids:
                values = self.jvm.scala.jdk.javaapi.CollectionConverters.asJava(
                    self._sql.executionMetrics(eid)
                )
                by_id = {int(k): values[k] for k in values}
                total += sum(_metric_ms(by_id[i]) for i in ids if i in by_id)
        return total, len(batches)

    def catalyst_ms(self, dataframes) -> float:
        """Analysis + optimization + planning time recorded by each
        DataFrame's QueryExecution tracker."""
        total = 0.0
        for df in dataframes:
            phases = self.jvm.scala.jdk.javaapi.CollectionConverters.asJava(
                df._jdf.queryExecution().tracker().phases()
            )
            total += sum(phases[k].durationMs() for k in phases)
        return float(total)

    def resident(self) -> tuple[int, float]:
        """(persistent RDD count, MB they hold in memory and on disk)."""
        n = self._jsc.getPersistentRDDs().size()
        size = sum(i.memSize() + i.diskSize() for i in self._jsc.getRDDStorageInfo())
        return n, size / 2**20


@contextlib.contextmanager
def record_sql_dataframes(sink: list):
    """Collect every DataFrame ``SparkSession.sql`` returns while active."""
    from pyspark.sql import SparkSession

    original = SparkSession.sql

    @functools.wraps(original)
    def sql(self, *args, **kwargs):
        df = original(self, *args, **kwargs)
        sink.append(df)
        return df

    SparkSession.sql = sql
    try:
        yield sink
    finally:
        SparkSession.sql = original
