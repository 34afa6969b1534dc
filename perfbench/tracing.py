"""Spans, per-layer counters and Spark status-store readings for the
benchmark's traced run, plus the peak-RSS sampler every run uses.

All recording happens here, around the benchmark's calls into the
project's public functions; nothing inside the package is patched.
"""

from __future__ import annotations

import itertools
import os
import threading
import time
from collections import defaultdict
from contextlib import contextmanager

# per-layer metric names and units, in report order
LAYER_METRICS = {
    "session.start_s": "s",
    "sources.jdbc.read_s": "s",
    "sources.jdbc.rows": "count",
    "sources.jdbc.tasks": "count",
    "sources.rest.vocab_s": "s",
    "sources.rest.pages": "count",
    "pipeline.assemble_s": "s",
    "pipeline.shuffle_bytes": "bytes",
    "pipeline.tasks": "count",
    "operators.relational.reconcile_s": "s",
    "operators.relational.deletes": "count",
    "sinks.rest_sink.upsert_s": "s",
    "sinks.rest_sink.delete_s": "s",
    "sinks.rest_sink.requests": "count",
    "sinks.rest_sink.connections": "count",
    "sinks.rest_sink.requests_per_connection": "ratio",
    "sinks.rest_sink.token_requests": "count",
    "sinks.rest_sink.tasks": "count",
    "sinks.report.report_s": "s",
    "server.handler_s": "s",
    "queries.builder_s": "s",
    "queries.artifact_build_s": "s",
    "queries.artifact_builds": "count",
    "catalyst.analysis_ms": "ms",
    "catalyst.optimization_ms": "ms",
    "catalyst.planning_ms": "ms",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.executor_run_s": "s",
    "spark.executor_cpu_s": "s",
    "spark.shuffle_read_bytes": "bytes",
    "spark.shuffle_write_bytes": "bytes",
    "spark.spill_bytes": "bytes",
    "spark.gc_s": "s",
    "python.rows": "count",
    "python.time_s": "s",
    "collect.to_pandas_s": "s",
    "process.peak_rss_mb": "MB",
    "trace.overhead_s": "s",
    "trace.gap_frac": "ratio",
}
# the query layers again, for query_mix's warm pass in the traced run
QUERY_LAYERS = [k for k in LAYER_METRICS
                if k.split(".")[0] in ("queries", "catalyst", "spark", "python", "collect")]
LAYER_METRICS.update({"warm." + k: LAYER_METRICS[k] for k in QUERY_LAYERS})

_PYTHON_NODES = ("Python", "Pandas", "Arrow")  # ArrowEvalPython, MapInPandas, ...


class Tracer:
    """Spans (name, start, end, parent) and per-layer totals for one run.

    ``enabled=False`` makes every method a no-op, so the untraced run pays
    nothing for the calls the workloads make.
    """

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[dict] = []
        self.totals: dict[str, float] = defaultdict(float)
        self.overhead_s = 0.0
        self._stack: list[int] = []
        self._groups = itertools.count()

    @contextmanager
    def span(self, name: str, metric: str | None = None):
        """Time the block as a span; add its duration to ``metric``."""
        if not self.enabled:
            yield
            return
        sid = len(self.spans)
        rec = {"name": name, "start": time.perf_counter(), "end": None,
               "parent": self._stack[-1] if self._stack else None}
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()
            if metric:
                self.totals[metric] += rec["end"] - rec["start"]

    def add(self, metric: str, value: float) -> None:
        if self.enabled:
            self.totals[metric] += value

    @contextmanager
    def job_group(self, spark, prefix: str | None = None):
        """Run the block's Spark jobs in a fresh job group, then add their
        job, stage and task metrics from Spark's status store to the
        ``spark.*`` totals and, with ``prefix``, to ``<prefix>.tasks`` and
        ``<prefix>.shuffle_bytes``."""
        if not self.enabled:
            yield
            return
        sc = spark.sparkContext
        group = f"perfbench-{next(self._groups)}"
        sc.setJobGroup(group, group)
        try:
            yield
        finally:
            t0 = time.perf_counter()
            sc.setLocalProperty("spark.jobGroup.id", None)
            stats = job_group_stats(sc, group)
            for k, v in stats.items():
                self.totals["spark." + k] += v
            if prefix:
                self.totals[prefix + ".tasks"] += stats["tasks"]
                self.totals[prefix + ".shuffle_bytes"] += stats["shuffle_write_bytes"]
            self.overhead_s += time.perf_counter() - t0

    def plan_metrics(self, df) -> None:
        """Catalyst phase times and Python-worker rows/time of ``df``'s
        last execution."""
        if not self.enabled:
            return
        t0 = time.perf_counter()
        qe = df._jdf.queryExecution()
        phases = qe.tracker().phases()
        for phase in ("analysis", "optimization", "planning"):
            opt = phases.get(phase)
            if opt.isDefined():
                self.totals[f"catalyst.{phase}_ms"] += opt.get().durationMs()
        rows, ms = python_metrics(qe.executedPlan())
        self.totals["python.rows"] += rows
        self.totals["python.time_s"] += ms / 1000
        self.overhead_s += time.perf_counter() - t0


def job_group_stats(sc, group: str) -> dict[str, float]:
    """Jobs, stages and task metrics of one job group, from the status
    store (works with the Spark UI disabled)."""
    store = sc._jsc.sc().statusStore()
    tracker = sc.statusTracker()
    out = dict.fromkeys(
        ("jobs", "stages", "tasks", "executor_run_s", "executor_cpu_s",
         "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes", "gc_s"),
        0.0,
    )
    for job_id in tracker.getJobIdsForGroup(group):
        out["jobs"] += 1
        info = tracker.getJobInfo(job_id)
        for stage_id in info.stageIds if info else ():
            try:
                st = store.lastStageAttempt(stage_id)
            except Exception:  # stage evicted from the store or never run
                continue
            if st.numCompleteTasks() == 0:
                continue  # skipped: its shuffle output was reused
            out["stages"] += 1
            out["tasks"] += st.numCompleteTasks()
            out["executor_run_s"] += st.executorRunTime() / 1e3
            out["executor_cpu_s"] += st.executorCpuTime() / 1e9
            out["shuffle_read_bytes"] += st.shuffleReadBytes()
            out["shuffle_write_bytes"] += st.shuffleWriteBytes()
            out["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
            out["gc_s"] += st.jvmGcTime() / 1e3
    return out


def python_metrics(plan) -> tuple[float, float]:
    """(rows returned by Python workers, their total time in ms) summed
    over the Python nodes of an executed physical plan."""
    rows = ms = 0.0
    todo = [plan]
    while todo:
        node = todo.pop()
        cls = node.getClass().getSimpleName()
        if cls == "AdaptiveSparkPlanExec":
            todo.append(node.executedPlan())
            continue
        if cls.endswith("QueryStageExec"):
            todo.append(node.plan())
            continue
        if any(s in cls for s in _PYTHON_NODES):
            metrics = node.metrics()
            for key, acc in (("pythonNumRowsReceived", "rows"), ("pythonTotalTime", "ms")):
                m = metrics.get(key)
                if m.isDefined():
                    if acc == "rows":
                        rows += m.get().value()
                    else:
                        ms += m.get().value()
        children = node.children()
        todo.extend(children.apply(i) for i in range(children.size()))
    return rows, ms


def process_age_s() -> float:
    """Seconds since this process started, from /proc."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def _tree_rss_kb(root: int) -> int:
    """Summed VmRSS of ``root`` and all its descendants."""
    parent: dict[int, int] = {}
    rss: dict[int, int] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/status") as f:
                fields = dict(ln.split(":", 1) for ln in f if ":" in ln)
        except OSError:
            continue  # the process ended while we looked
        pid = int(name)
        parent[pid] = int(fields.get("PPid", "0"))
        rss[pid] = int(fields.get("VmRSS", "0 kB").split()[0])
    total, todo = 0, [root]
    children: dict[int, list[int]] = defaultdict(list)
    for pid, ppid in parent.items():
        children[ppid].append(pid)
    while todo:
        pid = todo.pop()
        total += rss.get(pid, 0)
        todo.extend(children.get(pid, ()))
    return total


class RssSampler:
    """Background thread sampling the RSS of this process tree (driver,
    JVM, Python workers); ``peak_mb`` is the largest sum seen."""

    def __init__(self, interval_s: float = 0.2) -> None:
        self.interval_s = interval_s
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        me = os.getpid()
        while True:
            self.peak_kb = max(self.peak_kb, _tree_rss_kb(me))
            if self._stop.wait(self.interval_s):
                return

    def __enter__(self) -> RssSampler:
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)

    @property
    def peak_mb(self) -> float:
        return self.peak_kb / 1024
