"""Per-layer tracing from outside the program.

Spans are recorded around the calls the benchmark makes into each layer
(``op`` -> ``queries.build`` -> ``catalog.load_table``, ``action`` ->
``executor.job`` / ``streaming.batch``, ``caching.release``), kept in memory
and written out when the run ends.  Spans of one op share its ``op`` id.
Counts come from the JVM's own stores, read right after each op:

- executor: the AppStatusStore jobs and stages the op submitted;
- catalyst: the action's ``QueryPlanningTracker`` phases;
- python / write: SQL execution metrics of the op's executions;
- streaming: progress events of a registered ``StreamingQueryListener``.

Time spent reading those stores is bookkeeping; it is timed so the run can
report the tracer's own overhead.
"""

from __future__ import annotations

import re
import statistics
import sys
import threading
import time
from collections import defaultdict
from contextlib import contextmanager
from datetime import datetime

from py4j.protocol import Py4JJavaError
from pyspark.sql.streaming import StreamingQueryListener

MB = 1e6

#: SQL metric display names -> (layer metric, kind).  Spark formats the
#: aggregated value as text; ``kind`` says how to read it back.
PYTHON_METRICS = {
    "time to run Python workers": ("python.total_ms", "time"),
    "time to start Python workers": ("python.boot_ms", "time"),
    "time to initialize Python workers": ("python.init_ms", "time"),
    "data sent to Python workers": ("python.sent_mb", "size"),
}
WRITE_METRICS = {
    "number of written files": ("write.files", "count"),
    "number of dynamic part": ("write.dynamic_parts", "count"),
    "written output": ("write.output_mb", "size"),
    "task commit time": ("write.task_commit_ms", "time"),
    "job commit time": ("write.job_commit_ms", "time"),
}

_SIZE = {"B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40}
_TIME_MS = {"ms": 1.0, "s": 1e3, "m": 60e3, "h": 3600e3}
_VALUE = re.compile(r"\s*([0-9][0-9,]*(?:\.[0-9]+)?)\s*([A-Za-z]*)")


def parse_metric(text: str, kind: str) -> float:
    """Read back an aggregated SQL metric string: the total is the whole
    string, or the first value after the header line when Spark appends
    the per-task (min, med, max) breakdown."""
    if "\n" in text:
        text = text.split("\n", 1)[1]
    m = _VALUE.match(text)
    if not m:
        return 0.0
    value = float(m.group(1).replace(",", ""))
    unit = m.group(2)
    if kind == "size":
        return value * _SIZE.get(unit, 1) / MB
    if kind == "time":
        return value * _TIME_MS.get(unit, 1.0)
    return value


def now_ms() -> float:
    return time.time() * 1e3


class _ProgressListener(StreamingQueryListener):
    """Collects every micro-batch progress event of the session."""

    def __init__(self) -> None:
        self.events: list[dict] = []
        self._lock = threading.Lock()

    def onQueryStarted(self, event) -> None:
        pass

    def onQueryProgress(self, event) -> None:
        p = event.progress
        start = datetime.fromisoformat(p.timestamp.replace("Z", "+00:00"))
        rec = {
            "run_id": str(p.runId),
            "batch_id": p.batchId,
            "start_ms": start.timestamp() * 1e3,
            "input_rows": p.numInputRows,
            "durations": dict(p.durationMs),
            "state_rows": sum(s.numRowsTotal for s in p.stateOperators),
        }
        with self._lock:
            self.events.append(rec)

    def onQueryTerminated(self, event) -> None:
        pass

    def take(self) -> list[dict]:
        with self._lock:
            out, self.events = self.events, []
        return out


class Tracer:
    """Spans and per-layer counts for one traced run on one session."""

    def __init__(self, spark) -> None:
        self.spark = spark
        self.spans: list[dict] = []
        self.totals: dict[str, float] = defaultdict(float)
        self.trigger_ms: list[float] = []
        self.bookkeeping_ms = 0.0
        self._stack: list[dict] = []
        self._sc = spark.sparkContext._jsc.sc()
        self._store = self._sc.statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._dag = self._sc.dagScheduler()
        self._listener = _ProgressListener()
        self._patched: list[tuple[object, str, object]] = []
        self._job_mark = 0
        self._stage_mark = -1
        self._exec_mark = 0

    # -- lifecycle -----------------------------------------------------
    def install(self) -> None:
        """Register the streaming listener and wrap the public
        ``catalog.load_table``, including every module-level imported
        name bound to it."""
        from project_bigdata_recsys_spark import catalog

        self.spark.streams.addListener(self._listener)
        original = catalog.load_table
        wrapped = self._wrap_load_table(original)
        for name, module in list(sys.modules.items()):
            if not name.startswith("project_bigdata_recsys_spark"):
                continue
            for attr, value in list(vars(module).items()):
                if value is original:
                    setattr(module, attr, wrapped)
                    self._patched.append((module, attr, original))
        self._sync_marks()

    def uninstall(self) -> None:
        for module, attr, original in self._patched:
            setattr(module, attr, original)
        self._patched.clear()
        self.spark.streams.removeListener(self._listener)

    def _wrap_load_table(self, original):
        tracer = self

        def load_table(spark, sf_dir, name):
            parent = tracer._stack[-1] if tracer._stack else None
            start = now_ms()
            try:
                return original(spark, sf_dir, name)
            finally:
                end = now_ms()
                tracer.totals["catalog.load_table.calls"] += 1
                tracer.totals["catalog.load_table.ms"] += end - start
                if parent is not None:
                    tracer._add("catalog.load_table", parent, start, end, table=name)

        return load_table

    # -- spans ---------------------------------------------------------
    def _add(
        self, name: str, parent: dict | None, start: float, end: float,
        op: int | None = None, **attrs,
    ) -> dict:
        span = {
            "id": len(self.spans),
            "op": parent["op"] if parent else op,
            "parent": parent["id"] if parent else None,
            "name": name,
            "start_ms": start,
            "end_ms": end,
            **attrs,
        }
        self.spans.append(span)
        return span

    @contextmanager
    def span(self, name: str, op: int | None = None, **attrs):
        parent = self._stack[-1] if self._stack else None
        span = self._add(name, parent, now_ms(), 0.0, op=op, **attrs)
        self._stack.append(span)
        try:
            yield span
        finally:
            self._stack.pop()
            span["end_ms"] = now_ms()

    # -- per-op readout ------------------------------------------------
    def _next_id(self, counter: str) -> int:
        """The DAGScheduler's next job or stage id (py4j hands back the
        counter's value or the AtomicInteger, by Spark build)."""
        value = getattr(self._dag, counter)()
        return value if isinstance(value, int) else value.get()

    def _sync_marks(self) -> None:
        self._job_mark = self._next_id("nextJobId")
        self._stage_mark = self._next_id("nextStageId") - 1
        self._exec_mark = self._sql.executionsCount()

    def record_op(self, build: dict, action: dict, df) -> None:
        """Read the stores for the op that just finished and attach its
        job and batch spans; called before the op's cache release."""
        t0 = time.perf_counter()
        self._sc.listenerBus().waitUntilEmpty(30_000)
        self._read_jobs(build, action)
        self._read_catalyst(df)
        self._read_sql_executions()
        self._read_batches(build, action)
        self.totals["caching.persists"] += self._sc.getPersistentRDDs().size()
        cached = sum(i.memSize() for i in self._sc.getRDDStorageInfo()) / MB
        self.totals["caching.cached_mb_peak"] = max(
            self.totals["caching.cached_mb_peak"], cached
        )
        self.bookkeeping_ms += (time.perf_counter() - t0) * 1e3

    def skip_op(self) -> None:
        """Drop the readouts of a failed op so the next op starts clean."""
        self._sc.listenerBus().waitUntilEmpty(30_000)
        self._listener.take()
        self._sync_marks()

    def _read_jobs(self, build: dict, action: dict) -> None:
        end_job = self._next_id("nextJobId")
        intervals = []
        stages = set()
        for job_id in range(self._job_mark, end_job):
            try:
                job = self._store.job(job_id)
            except Py4JJavaError:  # id evicted or never posted
                continue
            start = job.submissionTime().get().getTime() if job.submissionTime().isDefined() else None
            end = job.completionTime().get().getTime() if job.completionTime().isDefined() else None
            if start is None:
                continue
            end = end if end is not None else action["end_ms"]
            parent = build if start < build["end_ms"] else action
            s, e = max(start, parent["start_ms"]), min(end, parent["end_ms"])
            self._add("executor.job", parent, s, max(s, e), job=job_id)
            intervals.append((s, max(s, e)))
            self.totals["executor.jobs"] += 1
            if parent is build:
                self.totals["queries.build_jobs"] += 1
            ids = job.stageIds()
            for i in range(ids.size()):
                stages.add(ids.apply(i))
        self._job_mark = end_job
        for stage_id in sorted(stages):
            if stage_id <= self._stage_mark:
                continue
            try:
                st = self._store.lastStageAttempt(stage_id)
            except Py4JJavaError:  # skipped stage, never attempted
                continue
            if st.status().toString() not in ("COMPLETE", "FAILED"):
                continue
            t = self.totals
            t["executor.stages"] += 1
            t["executor.tasks"] += st.numTasks()
            t["executor.run_ms"] += st.executorRunTime()
            t["executor.cpu_ms"] += st.executorCpuTime() / 1e6
            t["executor.gc_ms"] += st.jvmGcTime()
            t["executor.input_mb"] += st.inputBytes() / MB
            t["executor.shuffle_read_mb"] += st.shuffleReadBytes() / MB
            t["executor.shuffle_write_mb"] += st.shuffleWriteBytes() / MB
            t["executor.spill_mb"] += (st.memoryBytesSpilled() + st.diskBytesSpilled()) / MB
        self._stage_mark = max([self._stage_mark, *stages])
        covered, reach = 0.0, float("-inf")
        for s, e in sorted(intervals):
            s = max(s, reach)
            if e > s:
                covered += e - s
            reach = max(reach, e)
        wall = action["end_ms"] - build["start_ms"]
        self.totals["executor.driver_gap_ms"] += max(0.0, wall - covered)

    def _read_catalyst(self, df) -> None:
        phases = df._jdf.queryExecution().tracker().phases()
        for phase in ("analysis", "optimization", "planning"):
            summary = phases.get(phase)
            if summary.isDefined():
                self.totals[f"catalyst.{phase}_ms"] += summary.get().durationMs()

    def _read_sql_executions(self) -> None:
        count = self._sql.executionsCount()
        execs = self._sql.executionsList(self._exec_mark, count - self._exec_mark)
        self._exec_mark = count
        for i in range(execs.size()):
            ex = execs.apply(i)
            values = self._sql.executionMetrics(ex.executionId())
            graph = self._sql.planGraph(ex.executionId())
            nodes = graph.allNodes()
            for n in range(nodes.size()):
                metrics = nodes.apply(n).metrics()
                named = {}
                for k in range(metrics.size()):
                    m = metrics.apply(k)
                    v = values.get(m.accumulatorId())
                    if v.isDefined():
                        named[m.name()] = v.get()
                python_node = "data sent to Python workers" in named
                for label, text in named.items():
                    spec = PYTHON_METRICS.get(label) or WRITE_METRICS.get(label)
                    if spec is None and python_node and label == "number of output rows":
                        spec = ("python.rows_received", "count")
                    if spec is not None:
                        self.totals[spec[0]] += parse_metric(text, spec[1])

    def _read_batches(self, build: dict, action: dict) -> None:
        events = self._listener.take()
        t = self.totals
        batch_ms, last_state = 0.0, {}
        for ev in events:
            d = ev["durations"]
            trigger = float(d.get("triggerExecution", 0))
            parent = build if ev["start_ms"] < build["end_ms"] else action
            s = min(max(ev["start_ms"], parent["start_ms"]), parent["end_ms"])
            e = min(s + trigger, parent["end_ms"])
            self._add("streaming.batch", parent, s, e, batch=ev["batch_id"], run_id=ev["run_id"])
            t["streaming.batches"] += 1
            t["streaming.input_rows"] += ev["input_rows"]
            t["streaming.trigger_ms"] += trigger
            t["streaming.add_batch_ms"] += float(d.get("addBatch", 0))
            t["streaming.query_planning_ms"] += float(d.get("queryPlanning", 0))
            t["streaming.wal_commit_ms"] += float(d.get("walCommit", 0))
            t["streaming.commit_offsets_ms"] += float(d.get("commitOffsets", 0))
            self.trigger_ms.append(trigger)
            batch_ms += trigger
            last_state[ev["run_id"]] = ev["state_rows"]
        t["streaming.state_rows"] += sum(last_state.values())
        if events:
            wall = action["end_ms"] - build["start_ms"]
            t["streaming.outside_batch_ms"] += max(0.0, wall - batch_ms)

    def batch_p50_ms(self) -> float:
        return statistics.median(self.trigger_ms) if self.trigger_ms else 0.0
