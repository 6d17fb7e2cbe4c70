"""Per-layer tracing for the benchmark's traced run.

Wraps the engine's public entry points from outside the package, records a
span (name, start, end, parent, query id) around each call, and adds
counters at the same boundaries.  Spark-side numbers come from public APIs:
the status tracker for jobs, stages and tasks, a StreamingQueryListener for
micro-batches, the JVM's management beans for GC time and ``/proc`` for CPU.

Every metric is a per-pass total, reported as the median over the traced
passes; the two ratios are taken over all traced passes together.
"""

from __future__ import annotations

import contextlib
import importlib
import itertools
import json
import os
import statistics
import sys
import threading
import time

from pyspark.sql.streaming import StreamingQueryListener

#: (module, function, span name): the layer boundaries.  A span name is
#: also the prefix of the layer's ``_calls`` and ``_s`` counters.
CLONE = ("spj_query_engine_spark.session", "clone_session", "session.clone")
WRAPPED = (
    ("spj_query_engine_spark.dialect.parser", "parse", "dialect.parse"),
    ("spj_query_engine_spark.plans.builder", "build_plan", "plans.build"),
    ("spj_query_engine_spark.catalog", "load_table", "catalog.load"),
    ("spj_query_engine_spark.operators.core", "barrier", "operators.barrier"),
    ("spj_query_engine_spark.operators.core", "coarse_materialize", "operators.coarse"),
)

#: Per-layer metrics and their units, in report order.
UNITS = {
    "dialect.parse_ms": "ms",
    "plans.build_ms": "ms",
    "catalog.load_ms": "ms",
    "catalog.frame_reuse_ratio": "ratio",
    "spark.plan_ms": "ms",
    "driver.py_cpu_s": "s",
    "spark.exec_s": "s",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.failed_tasks": "count",
    "workload.build_s": "s",
    "operators.barrier_calls": "count",
    "operators.barrier_s": "s",
    "operators.coarse_calls": "count",
    "operators.coarse_s": "s",
    "spark.jobs": "count",
    "spark.jobs_in_build": "count",
    "jvm.gc_ms": "ms",
    "jvm.cpu_s": "s",
    "cpu_busy_frac": "ratio",
    "streaming.batches": "count",
    "streaming.trigger_ms": "ms",
    "streaming.wal_commit_ms": "ms",
    "streaming.add_batch_ms": "ms",
    "streaming.state_rows": "count",
    "streaming.bytes_written": "bytes",
    "streaming.write_amp": "ratio",
    "session.clone_calls": "count",
    "session.clone_ms": "ms",
}


class _Listener(StreamingQueryListener):
    """Feeds micro-batch progress into the tracer."""

    def __init__(self, tracer: "Tracer"):
        super().__init__()
        self.tracer = tracer

    def onQueryStarted(self, event):
        self.tracer.stream_started(str(event.runId))

    def onQueryProgress(self, event):
        self.tracer.stream_progress(event.progress)

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        pass


class Tracer:
    def __init__(self, spark, jvm_pid: int, cores: int, data_dir: str):
        self.spark = spark
        self.sc = spark.sparkContext
        self.status = self.sc.statusTracker()
        self.jvm_pid = jvm_pid
        self.cores = cores
        self.events_bytes = os.path.getsize(os.path.join(data_dir, "events.parquet"))
        self.lock = threading.Lock()
        self.local = threading.local()
        self.span_ids = itertools.count(1)
        self.spans: list[dict] = []
        self.query: str | None = None
        self.query_span: dict | None = None
        self.counters: dict[str, float] = {}
        self.frames: dict[int, object] = {}
        self.loads = self.reuses = 0
        self.run_ids: set[str] = set()
        self.pass_runs: set[str] = set()
        self.state_rows: dict[str, int] = {}
        self.progress_events = 0
        self.seen_jobs: set[int] = set()
        self.pass_jobs: dict[str, list[int]] = {}
        self.listener = _Listener(self)
        self.restore: list[tuple[object, str, object]] = []
        self.active = False

    # --- installation ------------------------------------------------------

    def watch_streams(self) -> None:
        """Attach the streaming listener to the session and, through the
        ``clone_session`` wrapper, to every sub-session the engine clones
        from now on.  Called before the first query: the engine caches its
        streaming sub-sessions, so a clone made during the warm-up pass
        serves the traced passes."""
        self.spark.streams.addListener(self.listener)
        self._patch(*CLONE)

    def _patch(self, mod_name: str, fn_name: str, span: str) -> None:
        """Replace ``fn_name`` in every engine module that holds it."""
        orig = getattr(importlib.import_module(mod_name), fn_name)
        wrapper = self._wrap(orig, span)
        for name, mod in list(sys.modules.items()):
            if mod is None or not name.startswith("spj_query_engine_spark"):
                continue
            for attr, value in list(vars(mod).items()):
                if value is orig:
                    setattr(mod, attr, wrapper)
                    self.restore.append((mod, attr, orig))

    @contextlib.contextmanager
    def installed(self):
        """Wrap the other layer entry points for the traced passes."""
        for spec in WRAPPED:
            self._patch(*spec)
        self._settle_listener()
        self._new_jobs()  # everything before the traced passes is not ours
        self.active = True
        try:
            yield self
        finally:
            self.active = False
            for mod, attr, orig in reversed(self.restore):
                setattr(mod, attr, orig)
            self.restore.clear()
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)

    def _wrap(self, orig, span_name: str):
        tracer = self

        def wrapper(*args, **kwargs):
            if not tracer.active:
                result = orig(*args, **kwargs)
                if span_name == "session.clone":
                    result.streams.addListener(tracer.listener)
                return result
            stack = tracer._stack()
            outer = all(s["name"] != span_name for s in stack)
            span = tracer._open(span_name)
            try:
                result = orig(*args, **kwargs)
            finally:
                tracer._close(span)
            dt = span["end"] - span["start"]
            if outer:
                tracer.add(f"{span_name}_calls", 1)
                tracer.add(f"{span_name}_s", dt)
            if span_name == "catalog.load":
                tracer._loaded(result)
            elif span_name == "session.clone":
                result.streams.addListener(tracer.listener)
            return result

        wrapper.__wrapped__ = orig
        return wrapper

    # --- spans and counters ------------------------------------------------

    def _stack(self) -> list[dict]:
        stack = getattr(self.local, "stack", None)
        if stack is None:
            stack = self.local.stack = []
        return stack

    def _open(self, name: str, parent: dict | None = None) -> dict:
        stack = self._stack()
        if parent is None:
            parent = stack[-1] if stack else self.query_span
        span = {
            "id": next(self.span_ids),
            "name": name,
            "start": time.perf_counter(),
            "end": None,
            "parent": parent["id"] if parent else None,
            "query": self.query,
        }
        stack.append(span)
        return span

    def _close(self, span: dict, end: float | None = None) -> None:
        span["end"] = time.perf_counter() if end is None else end
        stack = self._stack()
        if span in stack:
            stack.remove(span)
        with self.lock:
            self.spans.append(span)

    def add(self, key: str, value: float) -> None:
        with self.lock:
            self.counters[key] = self.counters.get(key, 0.0) + value

    def _loaded(self, df) -> None:
        with self.lock:
            self.loads += 1
            if id(df) in self.frames:
                self.reuses += 1
            self.frames[id(df)] = df

    # --- streaming listener callbacks --------------------------------------

    def stream_started(self, run_id: str) -> None:
        with self.lock:
            self.run_ids.add(run_id)
            self.pass_runs.add(run_id)

    def stream_progress(self, progress) -> None:
        d = progress.durationMs or {}
        rows = sum(op.numRowsTotal for op in (progress.stateOperators or []))
        with self.lock:
            self.progress_events += 1
            self.state_rows[str(progress.runId)] = rows
        self.add("streaming.batches", 1)
        self.add("streaming.trigger_ms", d.get("triggerExecution", 0))
        self.add("streaming.wal_commit_ms", d.get("walCommit", 0))
        self.add("streaming.add_batch_ms", d.get("addBatch", 0))

    def _settle_listener(self, quiet: float = 0.3, limit: float = 3.0) -> None:
        """Listener events arrive asynchronously: wait until none has come
        for ``quiet`` seconds."""
        t_end = time.perf_counter() + limit
        last = -1
        while time.perf_counter() < t_end:
            with self.lock:
                seen = self.progress_events
            if seen == last:
                return
            last = seen
            time.sleep(quiet)

    # --- Spark jobs --------------------------------------------------------

    def _new_jobs(self) -> list[int]:
        """Job ids not seen before, from this query's job group, from jobs
        without a group (driver thread-pool legs) and from every streaming
        run's group (micro-batches run on stream threads)."""
        groups = [None, f"perfbench:{self.query}"] + sorted(self.run_ids)
        ids: set[int] = set()
        for g in groups:
            ids.update(self.status.getJobIdsForGroup(g))
        new = sorted(ids - self.seen_jobs)
        self.seen_jobs.update(new)
        return new

    def _stage_counts(self, job_ids: list[int]) -> tuple[int, int, int]:
        stages = {}
        for j in job_ids:
            info = self.status.getJobInfo(j)
            for s in info.stageIds if info else ():
                st = self.status.getStageInfo(s)
                if st is not None:
                    stages[s] = st
        ran = [st for st in stages.values() if st.numCompletedTasks or st.numFailedTasks]
        return (
            len(ran),
            sum(st.numCompletedTasks for st in ran),
            sum(st.numFailedTasks for st in ran),
        )

    # --- pass and query boundaries ------------------------------------------

    def begin_pass(self) -> None:
        self.counters = {}
        self.pass_jobs = {"build": [], "exec": []}
        self.pass_runs = set()
        self.state_rows = {}
        self.t_cpu = time.process_time()
        self.jvm_cpu0 = self._jvm_cpu()
        self.gc0 = self._gc_ms()

    def begin_query(self, name: str) -> None:
        self.query = name
        self.sc.setJobGroup(f"perfbench:{name}", name)
        self.query_span = None
        self.query_span = self._open("query")
        self._stack().remove(self.query_span)

    def after_build(self, df, t0: float, t1: float) -> None:
        self.add("workload.build_s", t1 - t0)
        self._close(self._span_at("workload.build", t0), t1)
        jobs = self._new_jobs()
        self.pass_jobs["build"] += jobs
        self.query_span["jobs_in_build"] = len(jobs)
        t_plan = time.perf_counter()
        df._jdf.queryExecution().executedPlan()
        t_done = time.perf_counter()
        self._close(self._span_at("spark.plan", t_plan), t_done)
        self.add("spark.plan_ms", (t_done - t_plan) * 1000)

    def after_exec(self, t1: float, t2: float) -> None:
        self._close(self._span_at("spark.exec", t1), t2)
        self.add("spark.exec_s", t2 - t1)
        jobs = self._new_jobs()
        self.pass_jobs["exec"] += jobs
        self.query_span["jobs_in_exec"] = len(jobs)
        self.end_query()

    def end_query(self) -> None:
        if self.query_span is not None:
            self._close(self.query_span)
        self.query_span = None
        self.query = None

    def _span_at(self, name: str, start: float) -> dict:
        span = self._open(name, parent=self.query_span)
        span["start"] = start
        return span

    def end_pass(self, wall: float) -> dict[str, float]:
        """Settle the pass's asynchronous events and return its metrics."""
        self._settle_listener()
        self.query = None
        late = self._new_jobs()  # stream jobs whose run id arrived late
        self.pass_jobs["build"] += late
        jobs = self.pass_jobs["build"] + self.pass_jobs["exec"]
        stages, tasks, failed_tasks = self._stage_counts(jobs)
        jvm_cpu = self._jvm_cpu() - self.jvm_cpu0
        c = dict(self.counters)
        out = {
            "dialect.parse_ms": c.get("dialect.parse_s", 0.0) * 1000,
            "plans.build_ms": c.get("plans.build_s", 0.0) * 1000,
            "catalog.load_ms": c.get("catalog.load_s", 0.0) * 1000,
            "spark.plan_ms": c.get("spark.plan_ms", 0.0),
            "driver.py_cpu_s": time.process_time() - self.t_cpu,
            "spark.exec_s": c.get("spark.exec_s", 0.0),
            "spark.stages": stages,
            "spark.tasks": tasks,
            "spark.failed_tasks": failed_tasks,
            "workload.build_s": c.get("workload.build_s", 0.0),
            "operators.barrier_calls": c.get("operators.barrier_calls", 0.0),
            "operators.barrier_s": c.get("operators.barrier_s", 0.0),
            "operators.coarse_calls": c.get("operators.coarse_calls", 0.0),
            "operators.coarse_s": c.get("operators.coarse_s", 0.0),
            "spark.jobs": len(jobs),
            "spark.jobs_in_build": len(self.pass_jobs["build"]),
            "jvm.gc_ms": self._gc_ms() - self.gc0,
            "jvm.cpu_s": jvm_cpu,
            "cpu_busy_frac": jvm_cpu / (wall * self.cores),
            "streaming.batches": c.get("streaming.batches", 0.0),
            "streaming.trigger_ms": c.get("streaming.trigger_ms", 0.0),
            "streaming.wal_commit_ms": c.get("streaming.wal_commit_ms", 0.0),
            "streaming.add_batch_ms": c.get("streaming.add_batch_ms", 0.0),
            "streaming.state_rows": sum(self.state_rows.get(r, 0) for r in self.pass_runs),
            "streaming.bytes_written": c.get("streaming.bytes_written", 0.0),
            "streaming.input_bytes": self.events_bytes * len(self.pass_runs),
            "session.clone_calls": c.get("session.clone_calls", 0.0),
            "session.clone_ms": c.get("session.clone_s", 0.0) * 1000,
        }
        return out

    # --- process counters --------------------------------------------------

    def _jvm_cpu(self) -> float:
        with open(f"/proc/{self.jvm_pid}/stat") as fh:
            fields = fh.read().rsplit(")", 1)[1].split()
        return (int(fields[11]) + int(fields[12])) / os.sysconf("SC_CLK_TCK")

    def _gc_ms(self) -> float:
        mf = self.spark._jvm.java.lang.management.ManagementFactory
        return float(sum(b.getCollectionTime() for b in mf.getGarbageCollectorMXBeans()))

    # --- report --------------------------------------------------------------

    def metrics(self, passes) -> dict[str, dict]:
        per_pass = [p.layer for p in passes]
        out = {}
        for key, unit in UNITS.items():
            if key == "catalog.frame_reuse_ratio":
                value = self.reuses / self.loads if self.loads else 0.0
            elif key == "streaming.write_amp":
                written = sum(p["streaming.bytes_written"] for p in per_pass)
                read = sum(p["streaming.input_bytes"] for p in per_pass)
                value = written / read if read else 0.0
            else:
                value = statistics.median(p[key] for p in per_pass)
            out[key] = {"value": value, "unit": unit}
        return out

    def write_spans(self, path: str) -> None:
        t0 = min((s["start"] for s in self.spans), default=0.0)
        with open(path, "w") as fh:
            for s in sorted(self.spans, key=lambda s: s["start"]):
                row = dict(s, start=s["start"] - t0, end=s["end"] - t0)
                fh.write(json.dumps(row) + "\n")
