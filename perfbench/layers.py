"""Traced op execution: spans around each call into a layer, and per-layer
numbers read from Spark's own counters. Also the host's CPU steal counter,
recorded as context, the reference loop that measures the host's speed,
and the physical-plan fingerprint.

- Spans are kept in memory (``LayerTrace.spans``) and written out by the
  caller when the run ends.
- Each op's build runs under its own job group, so jobs launched while the
  plan is built are attributed to ``queries``; the execute step runs under
  a second group and its jobs are ``exec``.
- Catalyst phase times come from ``tracker()`` of the query executions that
  really ran: analysis from the op's DataFrame, optimization and planning
  from the noop write's own execution, which a ``QueryExecutionListener``
  hands over. The traced pass plans each op once, as an untraced pass does.
- Per-node SQL metrics come from ``sharedState().statusStore()``, and stage
  counters (tasks, CPU, GC, shuffle, spill) from the core status store. The
  listener bus is drained before either store is read.
"""

from __future__ import annotations

import hashlib
import re
import time
from collections import defaultdict

BUILD_PHASES = ("analysis", "optimization", "planning")
PY_METRICS = {
    "time to start Python workers": "operators.py_start_s",
    "time to initialize Python workers": "operators.py_init_s",
    "time to run Python workers": "operators.py_run_s",
    "data sent to Python workers": "operators.py_bytes_sent",
    "data returned from Python workers": "operators.py_bytes_returned",
}
SCAN_METRICS = {
    "number of files read": "catalog.scan_files",
    "size of files read": "catalog.scan_bytes",
    "number of output rows": "catalog.scan_rows",
    "scan time": "catalog.scan_time_s",
}
WRITE_METRICS = {
    "number of written files": "sources.write_files",
    "written output": "sources.write_bytes",
    "number of output rows": "sources.write_rows",
}
AGG_NODES = ("HashAggregate", "ObjectHashAggregate", "SortAggregate")
UNITS = {"B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40}
SECONDS = {"ms": 1e-3, "s": 1.0, "m": 60.0, "min": 60.0, "h": 3600.0}
_NUM = re.compile(r"(-?[\d,]*\.?\d+)\s*([A-Za-z]*)")
_VOLATILE = re.compile(r"#\d+L?|plan_id=\d+|0x[0-9a-f]+|\[\d+\]")


def plan_fingerprint(plan: str, *paths: str) -> str:
    """Hash of a physical plan string with expression IDs, plan IDs, object
    addresses, RDD ids and the given paths stripped, so that only a change
    of plan shape changes it."""
    for i, p in enumerate(paths):
        plan = plan.replace(p, f"<path{i}>")
    return hashlib.sha1(_VOLATILE.sub("#", plan).encode()).hexdigest()[:16]


def parse_metric(metric_type: str, text: str) -> float:
    """Value of one formatted SQL metric in base units (bytes, seconds,
    count). Multi-task metrics read ``total (min, med, max ...)\\n<total> (...)``;
    the total is the figure before the parenthesis on the second line."""
    if "\n" in text:
        text = text.split("\n", 1)[1]
    m = _NUM.match(text.strip())
    if not m:
        return 0.0
    value, unit = float(m.group(1).replace(",", "")), m.group(2)
    if metric_type == "size":
        return value * UNITS.get(unit, 1)
    if metric_type in ("timing", "nsTiming"):
        return value * SECONDS.get(unit, 1.0)
    return value


def cpu_counters() -> tuple[int, int]:
    """(busy, steal) jiffies summed over all CPUs since boot, from
    ``/proc/stat``. Busy is every state but idle and iowait, steal included;
    (0, 0) where the file does not exist."""
    try:
        with open("/proc/stat") as fh:
            f = [int(x) for x in fh.readline().split()[1:9]]
    except OSError:
        return (0, 0)
    idle, iowait, steal = f[3], f[4], f[7]
    return (sum(f) - idle - iowait, steal)


def ref_loop(n: int = 400_000) -> float:
    """Wall time of a fixed single-threaded CPU-bound loop. Timed between op
    calls, it tracks the host's current speed (clock rate, time stolen by
    other guests, cache contention) next to each op."""
    t = time.perf_counter()
    x = 0
    for i in range(n):
        x += i * i % 7
    return time.perf_counter() - t


def steal_share(c0: tuple[int, int], c1: tuple[int, int]) -> float:
    """Share of busy CPU time between two ``cpu_counters()`` readings that
    the hypervisor gave to other guests. Host context only."""
    busy, steal = c1[0] - c0[0], c1[1] - c0[1]
    return steal / busy if busy > 0 else 0.0


def _union_s(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b > end:
            total += b - max(a, end)
            end = b
    return total


class _WriteListener:
    """``QueryExecutionListener`` implemented over the Py4J callback server:
    keeps the Catalyst phase summaries of the last execution that ended."""

    def __init__(self):
        self.phases: dict[str, tuple[float, float]] = {}

    def onSuccess(self, func_name, qe, duration_ns):  # noqa: N802 — Java interface
        phases = qe.tracker().phases()
        self.phases = {}
        for ph in BUILD_PHASES:
            summary = phases.get(ph)
            if summary.isDefined():
                s = summary.get()
                self.phases[ph] = (s.startTimeMs() / 1e3, s.endTimeMs() / 1e3)

    def onFailure(self, func_name, qe, exception):  # noqa: N802 — Java interface
        self.phases = {}

    class Java:
        implements = ["org.apache.spark.sql.util.QueryExecutionListener"]


class LayerTrace:
    """Runs ops with spans and collects per-layer counters per pass."""

    def __init__(self, spark):
        from pyspark.java_gateway import ensure_callback_server_started

        self.spark = spark
        self.sc = spark.sparkContext
        self._jsc = self.sc._jsc.sc()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._store = self._jsc.statusStore()
        self.spans: list[dict] = []
        self.passes: list[dict[str, float]] = []
        self._cur: dict[str, float] = defaultdict(float)
        # span times are perf_counter seconds; tracker phases are epoch ms
        self._epoch = time.time() - time.perf_counter()
        ensure_callback_server_started(self.sc._gateway)
        self._listener = _WriteListener()

    def span(self, name: str, start: float, end: float, parent: int | None = None, **attrs) -> int:
        self.spans.append(
            {"id": len(self.spans), "parent": parent, "name": name, "start": start, "end": end, **attrs}
        )
        return len(self.spans) - 1

    def start_pass(self) -> None:
        """Listen only during traced passes, so untraced ones pay nothing."""
        self._cur = defaultdict(float)
        self.spark._jsparkSession.listenerManager().register(self._listener)

    def end_pass(self) -> None:
        self.spark._jsparkSession.listenerManager().unregister(self._listener)
        self.passes.append(dict(self._cur))

    def run_op(self, name: str, fn, data_dir: str, pass_no: int, parent: int) -> float:
        """Build and execute one op under job groups; returns its wall time
        (build + execute, as in an untraced pass)."""
        sc, c = self.sc, self._cur
        groups = (f"perfbench-{pass_no}-{name}-build", f"perfbench-{pass_no}-{name}-exec")
        n0 = self._sql.executionsCount()
        sc.setJobGroup(groups[0], f"build {name}")
        t0 = time.perf_counter()
        df = fn(self.spark, data_dir)
        t1 = time.perf_counter()
        sc.setJobGroup(groups[1], f"execute {name}")
        df.write.format("noop").mode("overwrite").save()
        t2 = time.perf_counter()
        sc._jsc.clearJobGroup()

        # the bus delivers in order, so the write's execution ends last
        self._jsc.listenerBus().waitUntilEmpty()
        op = self.span("op", t0, t2, parent, op=name)
        self.span("queries.build", t0, t1, op, op=name)
        self.span("exec", t1, t2, op, op=name)
        analysis = df._jdf.queryExecution().tracker().phases().get("analysis")
        if analysis.isDefined():
            c["catalyst.analysis_s"] += analysis.get().durationMs() / 1e3
        for ph, (start, end) in self._listener.phases.items():
            c[f"catalyst.{ph}_s"] += end - start
            self.span(f"catalyst.{ph}", start - self._epoch, end - self._epoch, op, op=name)
        build = self._jobs(groups[0])
        c["queries.build_s"] += t1 - t0
        c["queries.build_jobs"] += build["jobs"]
        c["queries.build_job_s"] += build["s"]
        c["queries.build_python_s"] += max(0.0, (t1 - t0) - build["s"])
        for k, v in self._jobs(groups[1]).items():
            c[f"exec.{k}"] += v
        self._sql_metrics(n0)
        return t2 - t0

    def _jobs(self, group: str) -> dict[str, float]:
        out = defaultdict(float)
        spans = []
        for jid in self.sc.statusTracker().getJobIdsForGroup(group):
            job = self._store.job(jid)
            out["jobs"] += 1
            sub, done = job.submissionTime(), job.completionTime()
            if sub.isDefined() and done.isDefined():
                spans.append((sub.get().getTime() / 1e3, done.get().getTime() / 1e3))
            ids = job.stageIds()
            for i in range(ids.size()):
                try:
                    st = self._store.lastStageAttempt(ids.apply(i))
                except Exception:  # noqa: BLE001 — stage evicted or never submitted
                    continue
                if st.status().toString() != "COMPLETE":
                    continue
                out["stages"] += 1
                out["tasks"] += st.numCompleteTasks()
                out["cpu_s"] += st.executorCpuTime() / 1e9
                out["gc_s"] += st.jvmGcTime() / 1e3
                out["shuffle_write_bytes"] += st.shuffleWriteBytes()
                out["shuffle_records"] += st.shuffleWriteRecords()
                out["fetch_wait_s"] += st.shuffleFetchWaitTime() / 1e3
                out["spill_bytes"] += st.diskBytesSpilled()
        out["s"] = _union_s(spans)
        return out

    def _sql_metrics(self, count_before: int) -> None:
        """Fold the node metrics of every SQL execution since count_before
        (build and execute) into the current pass."""
        n1 = self._sql.executionsCount()
        execs = self._sql.executionsList(count_before, n1 - count_before)
        for i in range(execs.size()):
            eid = execs.apply(i).executionId()
            values = self._sql.executionMetrics(eid)
            nodes = self._sql.planGraph(eid).allNodes()
            for j in range(nodes.size()):
                node = nodes.apply(j)
                node_name = node.name()
                metrics = node.metrics()
                got = {}
                for k in range(metrics.size()):
                    m = metrics.apply(k)
                    v = values.get(m.accumulatorId())
                    if v.isDefined():
                        got[m.name()] = parse_metric(m.metricType(), v.get())
                self._fold(node_name, got)

    def _fold(self, node: str, got: dict[str, float]) -> None:
        c = self._cur
        if node.startswith("Scan "):
            for k, key in SCAN_METRICS.items():
                c[key] += got.get(k, 0.0)
        if "number of written files" in got:
            for k, key in WRITE_METRICS.items():
                c[key] += got.get(k, 0.0)
        for k, key in PY_METRICS.items():
            c[key] += got.get(k, 0.0)
        if node.startswith(AGG_NODES):
            c["exec.agg_peak_mem_mb"] = max(
                c["exec.agg_peak_mem_mb"], got.get("peak memory", 0.0) / 2**20
            )
            c["exec.sort_fallback_tasks"] += got.get("number of sort fallback tasks", 0.0)
        if node == "BroadcastExchange":
            c["exec.broadcast_build_s"] += got.get("time to build", 0.0)
            c["exec.broadcast_bytes"] += got.get("data size", 0.0)

    def storage(self) -> dict[str, float]:
        """Block-manager and heap state, read after the last pass."""
        jvm = self.spark._jvm
        persisted = self.sc._jsc.getPersistentRDDs().size()
        mem = sum(info.memSize() for info in self._jsc.getRDDStorageInfo())
        jvm.java.lang.System.gc()
        rt = jvm.java.lang.Runtime.getRuntime()
        return {
            "storage.persisted_rdds_after": float(persisted),
            "storage.mem_mb_after": mem / 2**20,
            "storage.heap_after_gc_mb": (rt.totalMemory() - rt.freeMemory()) / 2**20,
        }
