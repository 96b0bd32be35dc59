#!/usr/bin/env python3
"""Closed-loop benchmark of the engine: one process, one client, one local
Spark session with ``SPARK_GRAFT_CPUS`` = min(4, nproc) cores.

Usage (from the repository root)::

    python3 perfbench/run.py --workload sql_interactive --seed 1 --seconds 25 --trace 0

A run generates its tables from a fixed generator seed (``datagen.py``) and
sets the session up, starting the JVM. It then runs whole passes over the
workload's ops: the first pass, in the fresh session, is still cold
(``cold_pass_s``); then at least the workload's warm passes, and more until
the passes have lasted ``--seconds``. After the passes it sets the session
up ``WARM_SETUPS`` more times in the warmed-up JVM (their median is
``setup_s``). Every op result is checked against its oracle after the timed
interval.

``--trace 0`` reports the end-to-end metrics with tracing off. ``--trace 1``
runs the cold pass as an untimed warm-up, then runs every op twice per warm
pass, traced and untraced in alternating order, and reports the per-layer
metrics of the traced executions plus the tracing overhead.

The last stdout line is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics``. The lines before it print every metric by name
with its unit. The full ledger (environment, per-op records, per-layer
breakdown, spans) is written under ``.bench_work/results/``.
"""

from __future__ import annotations

import argparse
import hashlib
import io as _io
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".bench_work")
REQUIRED = ("datafusion_gpu_spark/__init__.py", "tools/check_oracle.py")
#: set-ups after the passes, in the warmed-up JVM; their median is setup_s
WARM_SETUPS = 3
DRIVER_MEM = "2g"

END_TO_END = {
    "setup_s": "s",
    "cold_pass_s": "s",
    "latency_p50_s": "s",
    "latency_tail_s": "s",
    "ops_per_s": "1/s",
    "peak_rss_mb": "MB",
    "peak_offheap_rss_mb": "MB",
    "retained_mb": "MB",
}

PER_LAYER = {
    "context.get_spark_s": "s",
    "context.build_ctx_s": "s",
    "context.register_tables.calls": "count",
    "context.register_tables.s": "s",
    "queries.load.calls": "count",
    "queries.load.s": "s",
    "queries.construct_s": "s",
    "queries.construct_jobs": "count",
    "queries.execute_s": "s",
    "aggregates.register_aggregates.calls": "count",
    "aggregates.register_aggregates.s": "s",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.catalyst_ms": "ms",
    "spark.executor_run_ms": "ms",
    "spark.executor_cpu_ms": "ms",
    "spark.gc_ms": "ms",
    "spark.shuffle_read_bytes": "B",
    "spark.shuffle_write_bytes": "B",
    "spark.python_eval_ms": "ms",
    "spark.driver_gap_s": "s",
    "spark.slot_utilization": "1",
    "spark.resident_rdds": "count",
    "spark.resident_mb": "MB",
    "trace.ops_per_s_traced": "1/s",
    "trace.ops_per_s_untraced": "1/s",
    "trace.overhead_ratio": "1",
}


def log(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)


def parse_args(argv):
    from workloads import WORKLOADS

    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def configure_process(run_dir: str) -> dict:
    """Keep every file Spark, its workers and the package write inside the
    run directory, and make the package importable by the Python workers."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    cpus = min(4, len(os.sched_getaffinity(0)))
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")
    os.environ["TMPDIR"] = tmp
    # every JVM, spark-submit's launcher too: temp files in the run
    # directory, and no hsperfdata file (the JVM writes it to /tmp)
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    tempfile.tempdir = tmp
    sys.path.insert(0, ROOT)
    return {
        # a fixed, pre-touched heap: the JVM's resident set then does not
        # depend on when G1 decides to grow the heap
        "spark.driver.extraJavaOptions": f"-Xms{DRIVER_MEM} -XX:+AlwaysPreTouch",
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }


def source_fingerprint() -> str:
    h = hashlib.sha256()
    for base in ("datafusion_gpu_spark", "tools"):
        for dirpath, dirnames, files in sorted(os.walk(os.path.join(ROOT, base))):
            dirnames.sort()
            for f in sorted(files):
                if f.endswith(".py"):
                    with open(os.path.join(dirpath, f), "rb") as fh:
                        h.update(f.encode() + fh.read())
    return h.hexdigest()[:16]


def git_commit() -> str | None:
    """HEAD of the repository the benchmark sits in; None in a plain
    checkout (git would otherwise report an enclosing repository)."""
    if not os.path.exists(os.path.join(ROOT, ".git")):
        return None
    try:
        out = subprocess.run(
            ["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True, text=True, timeout=10
        )
    except (OSError, subprocess.TimeoutExpired):
        return None
    return out.stdout.strip() if out.returncode == 0 else None


def hd_quantile(values: list[float], q: float) -> float:
    """Harrell-Davis estimate of the ``q``-quantile: the mean of all order
    statistics, weighted by a Beta((n+1)q, (n+1)(1-q)) density. Op latencies
    cluster by op, and the sample quantile jumps between clusters from one
    run to the next; this estimate moves smoothly. The Beta CDF is
    integrated numerically (midpoint rule, 200 steps per order statistic)."""
    x = sorted(values)
    n = len(x)
    if n == 1:
        return x[0]
    a, b = (n + 1) * q, (n + 1) * (1 - q)
    log_beta = math.lgamma(a) + math.lgamma(b) - math.lgamma(a + b)
    steps = 200
    h = 1.0 / (steps * n)
    weights = []
    for i in range(n):
        w = 0.0
        for k in range(steps):
            u = (i * steps + k + 0.5) * h
            w += math.exp((a - 1) * math.log(u) + (b - 1) * math.log1p(-u) - log_beta)
        weights.append(w)
    return sum(w * v for w, v in zip(weights, x)) / sum(weights)


def tail_latency(latencies: list[float]) -> tuple[float, float, int]:
    """(value, percentile, n): the highest percentile with at least ten
    ops beyond it, as a Harrell-Davis estimate; the maximum when there are
    ten ops or fewer."""
    n = len(latencies)
    if n <= 10:
        return max(latencies), 100.0, n
    return hd_quantile(latencies, (n - 10) / n), 100.0 * (n - 10) / n, n


class Run:
    def __init__(self, workload, seed: int, seconds: float, trace: bool, run_dir: str, conf: dict):
        self.w, self.seed, self.seconds, self.trace = workload, seed, seconds, trace
        self.run_dir, self.conf = run_dir, conf
        self.records: list[dict] = []
        self.setups: list[dict] = []
        self.peak_rss_mb = 0.0

    # -- set-up --------------------------------------------------------------

    def _setup(self, context) -> dict:
        t0 = time.perf_counter()
        spark = context.get_spark("perfbench", extra_conf=self.conf)
        t1 = time.perf_counter()
        context.build_ctx(spark, types_table_length=self.w.types_rows, seed=self.seed, sf_dir=self.sf_dir)
        t2 = time.perf_counter()
        if self.w.cache_types:
            spark.table("types").cache().count()
        t3 = time.perf_counter()
        self.spark = spark
        return {"get_spark_s": t1 - t0, "build_ctx_s": t2 - t1, "cache_s": t3 - t2, "total_s": t3 - t0}

    def prepare(self) -> None:
        import datagen

        t0 = time.perf_counter()
        self.sf_dir = datagen.ensure_tables(os.path.join(WORK, "data"), self.w.sf)
        self.datagen_s = time.perf_counter() - t0
        if self.trace:
            from tracing import Instrumentation, Tracer

            self.tracer = Tracer()
            self.instrumentation = Instrumentation(self.tracer)

    def set_up(self, times: int) -> None:
        """Set the session up ``times`` times; each set-up but the run's
        first stops the session before it, in the same JVM."""
        import contextlib

        from datafusion_gpu_spark import context

        for _ in range(times):
            i = len(self.setups)
            if i:
                self.spark.stop()
            with contextlib.ExitStack() as stack:
                if self.trace:
                    stack.enter_context(self.instrumentation.active())
                    self.tracer.op = f"setup{i}"
                    stack.enter_context(self.tracer.span("setup"))
                self.setups.append(self._setup(context))
            self.spark.sparkContext.setLogLevel("ERROR")

    # -- ops -----------------------------------------------------------------

    def _execute(self, op, rec: dict, traced: bool) -> None:
        """The timed part of one op; fills latency and the raw result."""
        import contextlib

        from datafusion_gpu_spark import io as dgs_io
        from datafusion_gpu_spark import repl

        span = self.tracer.span if traced else lambda name: contextlib.nullcontext()

        t0 = time.perf_counter()
        if op.kind == "repl":
            out = _io.StringIO()
            ok = repl.run_sql(self.spark, op.sql, out=out)
            rec["latency_s"] = time.perf_counter() - t0
            rec["printed"] = out.getvalue()
            if not ok:
                raise RuntimeError(f"repl.run_sql failed: {rec['printed'].strip()}")
            return
        with span("queries.construct"):
            df = self.registry[op.name](self.spark, self.sf_dir)
        t1 = time.perf_counter()
        if traced:
            rec["construct_jobs"] = self.probe.next_job_id() - rec["first_job"]
        with span("queries.execute"):
            if op.kind == "collect":
                rows = df.collect()
            else:
                path = os.path.join(self.run_dir, "out", op.name)
                dgs_io.write_parquet(df, path)
        t2 = time.perf_counter()
        rec.update(construct_s=t1 - t0, execute_s=t2 - t1, latency_s=t2 - t0)
        self._last_df = df
        if op.kind == "collect":
            rec["result"] = (df.schema, df.columns, rows)
        else:
            rec["result"] = path

    def run_op(self, op, pass_no: int, traced: bool) -> dict:
        import contextlib

        from tracing import record_sql_dataframes

        op_id = f"p{pass_no}.{len(self.records)}.{op.name}"
        rec = {"op": op.name, "op_id": op_id, "kind": op.kind, "pass": pass_no, "traced": traced}
        sql_dfs: list = []
        self._last_df = None
        stack = contextlib.ExitStack()
        t_start = time.perf_counter()
        if traced:
            stack.enter_context(self.instrumentation.active())
            stack.enter_context(record_sql_dataframes(sql_dfs))
            self.tracer.op = op_id
            root = stack.enter_context(self.tracer.span(f"op.{op.name}"))
            gc0 = self.probe.gc_ms()
            epoch0 = time.time() * 1e3
            rec["first_job"] = self.probe.begin(op_id)
        try:
            with stack:
                self._execute(op, rec, traced)
        except Exception:
            rec["error"] = traceback.format_exc()
            rec.setdefault("latency_s", time.perf_counter() - t_start)
            log(f"op {op.name} raised:\n{rec['error']}")
        if traced:
            epoch1 = time.time() * 1e3
            wall_ms = root["end"] * 1e3 - root["start"] * 1e3
            counters = self.probe.end(rec.pop("first_job"), epoch0, epoch1)
            counters["gc_ms"] = self.probe.gc_ms() - gc0
            dfs = sql_dfs + ([self._last_df] if self._last_df is not None else [])
            counters["catalyst_ms"] = self.probe.catalyst_ms(dfs)
            counters["driver_gap_s"] = (wall_ms - counters.pop("stage_busy_ms")) / 1e3
            counters["resident_rdds"], counters["resident_mb"] = self.probe.resident()
            counters["wall_ms"] = wall_ms
            rec["spark"] = counters
            self.tracer.op = None
        self._last_df = None  # would keep the plan alive in the JVM heap
        rec["cost_s"] = time.perf_counter() - t_start
        self._after_op(rec)
        self.records.append(rec)
        return rec

    def _after_op(self, rec: dict) -> None:
        """Untimed: read a written output back, sample memory."""
        import pyarrow.parquet as pq

        from host import jvm_process, tree_hwm_mb

        self.peak_rss_mb = max(self.peak_rss_mb, tree_hwm_mb(jvm_process().pid))
        if rec["kind"] == "write" and "error" not in rec:
            path = rec["result"]
            t0 = time.perf_counter()
            try:
                rec["result"] = pq.read_table(path).to_pandas()
            except Exception:  # a missing or stale file is a wrong result
                rec["error"] = traceback.format_exc()
                log(f"read-back of {rec['op']} raised:\n{rec['error']}")
                return
            rec["read_back_s"] = time.perf_counter() - t0
            files = [f for f in os.listdir(path) if f.endswith(".parquet")]
            rec["write_files"] = len(files)
            rec["write_bytes"] = sum(os.path.getsize(os.path.join(path, f)) for f in files)

    def measure(self) -> None:
        from datafusion_gpu_spark.queries import all_oracles, all_queries
        from host import reset_heap_peaks

        reset_heap_peaks(self.spark)
        self.registry, self.oracles = all_queries(), all_oracles()
        if self.trace:
            from tracing import SparkProbe

            self.probe = SparkProbe(self.spark)
        # the cold pass; a traced run uses it as an untimed warm-up, so that
        # the traced and untraced executions it compares are all warm
        t0 = time.perf_counter()
        for op in self.w.pass_order(self.seed, 0):
            self.run_op(op, 0, traced=False)
        # then whole warm passes: at least the workload's (half as many when
        # traced, where every op runs twice), and more until the window has
        # lasted --seconds
        warm_passes = -(-self.w.warm_passes // 2) if self.trace else self.w.warm_passes
        pass_no = 1
        while pass_no <= max(1, warm_passes) or time.perf_counter() - t0 < self.seconds:
            for i, op in enumerate(self.w.pass_order(self.seed, pass_no)):
                if not self.trace:
                    self.run_op(op, pass_no, traced=False)
                    continue
                traced_first = (i + pass_no + self.seed) % 2 == 0
                for traced in (traced_first, not traced_first):
                    self.run_op(op, pass_no, traced=traced)
            pass_no += 1
        self.window_s = time.perf_counter() - t0
        self.passes = pass_no

    # -- checks and metrics --------------------------------------------------

    def verify(self) -> None:
        """Check every op result outside the timed intervals."""
        from verify import OracleChecker, checksum, repl_value, rows_to_pandas, sum_problems

        checker = OracleChecker(self.sf_dir)
        reference = None
        tz = self.spark.conf.get("spark.sql.session.timeZone")
        try:
            for rec in self.records:
                if "error" in rec:
                    rec["problems"] = ["raised"]
                    continue
                if rec["kind"] == "repl":
                    if reference is None:
                        reference = self.spark.sql(
                            "SELECT sum(CAST(float AS DOUBLE)) FROM types"
                        ).collect()[0][0]
                    rec["problems"] = sum_problems(repl_value(rec["printed"]), reference)
                    continue
                result = rec.pop("result")
                if rec["kind"] == "collect":
                    schema, columns, rows = result
                    digest = checksum(rows)
                    load = lambda: rows_to_pandas(schema, columns, rows, tz)  # noqa: E731
                else:
                    digest = checksum(result.itertuples(index=False, name=None))
                    load = lambda: result  # noqa: E731
                rec["rows"] = digest[0]
                rec["problems"] = checker.check(rec["op"], self.oracles[rec["op"]], digest, load)
        finally:
            checker.close()
        for rec in self.records:
            if rec["problems"]:
                log(f"WRONG {rec['op']} (pass {rec['pass']}): {rec['problems'][:3]}")

    def end_to_end(self, heap: dict) -> tuple[dict, dict]:
        """(end-to-end metrics, figures reported beside them)."""
        good = [r for r in self.records if not r["problems"]]
        lat = [r["latency_s"] for r in good if r["pass"] > 0]
        tail, pct, n = tail_latency(lat)
        metrics = {
            "setup_s": statistics.median(s["total_s"] for s in self.setups[1:]),
            "cold_pass_s": sum(r["latency_s"] for r in self.records if r["pass"] == 0),
            "latency_p50_s": hd_quantile(lat, 0.5),
            "latency_tail_s": tail,
            "ops_per_s": len(good) / sum(r["latency_s"] for r in self.records),
            "peak_rss_mb": self.peak_rss_mb,
            "peak_offheap_rss_mb": self.peak_rss_mb - heap["committed_mb"],
            "retained_mb": heap["retained_mb"],
        }
        beside = {
            "setup_cold_s": self.setups[0]["total_s"],
            "first_op_s": self.records[0]["latency_s"],
            "heap_peak_mb": heap["peaks_mb"],
            "latency_tail_s.percentile": pct,
            "latency_tail_s.ops": n,
        }
        return metrics, beside

    def per_layer(self) -> tuple[dict, dict]:
        """(per-layer metrics, extended ledger) over the traced executions."""
        from tracing import self_time

        spans = self.tracer.spans
        traced = [r for r in self.records if r["traced"]]
        untraced = [r for r in self.records if not r["traced"] and r["pass"] > 0]
        op_ids = {s["op"] for s in spans if s["parent"] is None and s["name"].startswith("op.")}

        def total(name: str, ops=op_ids) -> tuple[int, float]:
            hits = [s for s in spans if s["name"] == name and s["op"] in ops]
            return len(hits), sum(s["end"] - s["start"] for s in hits)

        def setup_median(name: str) -> float:
            return statistics.median(s[name] for s in self.setups[1:])

        sp = lambda key: sum(r["spark"][key] for r in traced)  # noqa: E731
        wall_ms = sp("wall_ms")
        cores = int(os.environ["SPARK_GRAFT_CPUS"])
        last = traced[-1]["spark"]
        m = {
            "context.get_spark_s": setup_median("get_spark_s"),
            "context.build_ctx_s": setup_median("build_ctx_s"),
        }
        for name in ("context.register_tables", "queries.load", "aggregates.register_aggregates"):
            m[f"{name}.calls"], m[f"{name}.s"] = total(name)
        m["queries.construct_s"] = total("queries.construct")[1]
        m["queries.construct_jobs"] = sum(r.get("construct_jobs", 0) for r in traced)
        m["queries.execute_s"] = total("queries.execute")[1]
        for key in ("jobs", "stages", "tasks", "catalyst_ms", "executor_run_ms", "executor_cpu_ms",
                    "gc_ms", "shuffle_read_bytes", "shuffle_write_bytes", "python_eval_ms",
                    "driver_gap_s"):
            m[f"spark.{key}"] = sp(key)
        m["spark.slot_utilization"] = sp("executor_run_ms") / (wall_ms * cores)
        m["spark.resident_rdds"], m["spark.resident_mb"] = last["resident_rdds"], last["resident_mb"]
        ok_t = sum(1 for r in traced if not r["problems"])
        ok_u = sum(1 for r in untraced if not r["problems"])
        m["trace.ops_per_s_traced"] = ok_t / sum(r["cost_s"] for r in traced)
        m["trace.ops_per_s_untraced"] = ok_u / sum(r["latency_s"] for r in untraced)
        m["trace.overhead_ratio"] = m["trace.ops_per_s_untraced"] / m["trace.ops_per_s_traced"]

        ext: dict = {}
        names = sorted({s["name"] for s in spans if s["op"] in op_ids})
        for name in names:
            hits = [s for s in spans if s["name"] == name and s["op"] in op_ids]
            ext[name] = {
                "calls": len(hits),
                "s": sum(s["end"] - s["start"] for s in hits),
                "self_s": sum(self_time(spans, s) for s in hits),
            }
        ext["repl.run_sql_s"] = total("repl.run_sql")[1]
        ext["dialect.rewrite_s"] = sum(v["s"] for k, v in ext.items() if k.startswith("dialect."))
        repl_ops = [r for r in traced if r["kind"] == "repl" and not r["problems"]]
        udaf = {}
        for r in repl_ops:
            udaf.setdefault(r["op"], []).append(r["latency_s"])
        ext["aggregates.udaf_op_s"] = {k: statistics.median(v) for k, v in udaf.items()}
        ext["aggregates.rows_per_s"] = {k: self.w.types_rows / v for k, v in ext["aggregates.udaf_op_s"].items()}
        # an op's family is the operators module its first top-level operator call enters
        fam_of: dict[str, str] = {}
        for s in spans:
            if s["name"].startswith("operators.") and s["op"] not in fam_of:
                fam_of[s["op"]] = s["name"].split(".")[1]
        for fam in sorted(set(fam_of.values())):
            ops = {o for o, f in fam_of.items() if f == fam}
            ext[f"operators.{fam}.construct_s"] = total("queries.construct", ops)[1]
            ext[f"operators.{fam}.execute_s"] = total("queries.execute", ops)[1]
        writes = [r for r in traced if r["kind"] == "write" and not r["problems"]]
        ext["io.write.s"] = total("io.write_parquet")[1]
        ext["io.write.bytes"] = sum(r["write_bytes"] for r in writes)
        ext["io.write.files"] = sum(r["write_files"] for r in writes)
        ext["io.bytes_per_row"] = ext["io.write.bytes"] / max(1, sum(r["rows"] for r in writes))
        ext["io.read_back.s"] = sum(r["read_back_s"] for r in writes)
        stream_ops = {s["op"] for s in spans if s["name"].startswith("streaming.")}
        ext["streaming.op_s"] = sum(r["latency_s"] for r in traced if r["op_id"] in stream_ops)
        ext["streaming.microbatches"] = sum(r["spark"]["microbatches"] for r in traced)
        return m, ext

    # -- environment -----------------------------------------------------------

    def environment(self) -> dict:
        import pyspark

        jvm = self.spark._jvm
        return {
            "workload": self.w.name,
            "seed": self.seed,
            "seconds": self.seconds,
            "trace": int(self.trace),
            "nproc": len(os.sched_getaffinity(0)),
            "SPARK_GRAFT_CPUS": os.environ["SPARK_GRAFT_CPUS"],
            "pyspark": pyspark.__version__,
            "java": jvm.java.lang.System.getProperty("java.version"),
            "driver_memory": self.spark.conf.get("spark.driver.memory"),
            "sf": self.w.sf,
            "sf_dir": os.path.relpath(self.sf_dir, ROOT),
            "git_commit": git_commit(),
            "source_sha256_16": source_fingerprint(),
            "python": sys.version.split()[0],
        }


def run(workload, seed: int, seconds: float, trace: bool) -> dict:
    """One benchmark run; returns the full ledger."""
    os.makedirs(WORK, exist_ok=True)
    run_dir = tempfile.mkdtemp(prefix="run-", dir=WORK)
    conf = configure_process(run_dir)
    r = Run(workload, seed, seconds, trace, run_dir, conf)
    phases: dict[str, float] = {}
    clock = [time.perf_counter()]

    def phase(name: str) -> None:
        now = time.perf_counter()
        phases[name] = now - clock[0]
        clock[0] = now

    try:
        r.prepare()
        phase("prepare_s")
        r.set_up(1)
        env = r.environment()
        phase("setup_cold_s")
        r.measure()
        phase("passes_s")
        from host import heap_after_gc_mb, heap_committed_mb, heap_peaks_mb

        heap = {
            "peaks_mb": heap_peaks_mb(r.spark),
            "committed_mb": heap_committed_mb(r.spark),
            "retained_mb": heap_after_gc_mb(r.spark),
        }
        phase("retained_s")
        # the warm set-ups come last, in a JVM the passes have warmed up
        r.set_up(WARM_SETUPS)
        phase("setups_warm_s")
        r.verify()
        phase("verify_s")
    finally:
        if getattr(r, "spark", None) is not None:
            from host import shutdown

            shutdown(r.spark)
        shutil.rmtree(run_dir, ignore_errors=True)
        phase("shutdown_s")

    failed = sum(1 for rec in r.records if rec["problems"])
    out = {
        "correct": failed == 0,
        "attempted": len(r.records),
        "failed": failed,
        "failed_ratio": failed / len(r.records),
        "env": env,
        "setups": r.setups,
        "datagen_s": r.datagen_s,
        "window_s": r.window_s,
        "passes": r.passes,
        "phases": phases,
    }
    if trace:
        out["metrics"], out["layers"] = r.per_layer()
        units = PER_LAYER
        out["spans"] = r.tracer.spans
    else:
        out["metrics"], out["beside"] = r.end_to_end(heap)
        units = END_TO_END
    out["units"] = units
    out["ops"] = [{k: v for k, v in rec.items() if k not in ("result", "printed")} for rec in r.records]
    return out


def report(out: dict) -> None:
    env = out["env"]
    print(f"# perfbench {env['workload']} seed={env['seed']} trace={env['trace']} "
          f"env={json.dumps(env, sort_keys=True)}")
    for name, value in out["metrics"].items():
        print(f"{name:40s} {value:.6g} {out['units'][name]}")
    print(f"{'failed_ratio':40s} {out['failed_ratio']:.6g} 1 ({out['failed']}/{out['attempted']})")
    if "beside" in out:
        b = out["beside"]
        print(f"{'setup_cold_s':40s} {b['setup_cold_s']:.6g} s")
        print(f"{'first_op_s':40s} {b['first_op_s']:.6g} s")
        for pool, mb in b["heap_peak_mb"].items():
            print(f"{'heap_peak_mb.' + pool.replace(' ', '_'):40s} {mb:.6g} MB")
        print(f"{'latency_tail_s.percentile':40s} {b['latency_tail_s.percentile']:.4g} "
              f"(of {b['latency_tail_s.ops']} ops)")
    else:
        for name, value in out["layers"].items():
            print(f"{name:40s} {json.dumps(value) if isinstance(value, dict) else f'{value:.6g}'}")
    print(json.dumps({
        "correct": out["correct"],
        "attempted": out["attempted"],
        "failed": out["failed"],
        "metrics": {k: {"value": v, "unit": out["units"][k]} for k, v in out["metrics"].items()},
    }))


def save(out: dict) -> str:
    env = out["env"]
    results = os.path.join(WORK, "results")
    os.makedirs(results, exist_ok=True)
    stem = os.path.join(results, f"{env['workload']}-seed{env['seed']}-trace{env['trace']}-{int(time.time())}")
    spans = out.pop("spans", None)
    if spans is not None:
        with open(stem + ".spans.jsonl", "w") as f:
            for s in spans:
                f.write(json.dumps(s) + "\n")
    with open(stem + ".json", "w") as f:
        json.dump(out, f, indent=1, default=str)
    return stem


def main(argv=None) -> int:
    sys.path.insert(0, HERE)
    args = parse_args(argv)
    missing = [p for p in REQUIRED if not os.path.isfile(os.path.join(ROOT, p))]
    if missing:
        log(f"perfbench: the engine is not in this checkout (missing {', '.join(missing)})")
        return 2
    from workloads import WORKLOADS

    out = run(WORKLOADS[args.workload], args.seed, args.seconds, bool(args.trace))
    stem = save(out)
    log(f"perfbench: ledger written to {os.path.relpath(stem, ROOT)}.json")
    report(out)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
