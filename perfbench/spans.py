"""Spans and counters taken from outside the package.

Every span is opened by the benchmark around a call into one layer of
``personal_health_etl_pipeline_spark``; nothing inside the package is
instrumented. Spans stay in memory (name, start, end, parent, op id)
and are written once, at exit. Counters are read after each op,
outside its timer, from three places only:

- the Spark status tracker, for the jobs, stages and tasks launched
  under the job group the benchmark set for the op;
- the SQL metrics of the returned DataFrame's AQE final plan;
- the SQL status store, for row counts of every SQL execution the op
  ran (including the eager checkpoints inside plan construction).
"""

from __future__ import annotations

import contextlib
import json
import os
import re
import time
from collections import defaultdict

from pyspark.sql import DataFrame, SparkSession

# one entry per counter read off the final plan: metric name on the
# physical node -> (counter, how to combine across nodes, scale)
_PLAN_METRICS = {
    ("*", "shuffleBytesWritten"): ("exec.shuffle_bytes", "sum", 1),
    ("*", "shuffleRecordsWritten"): ("exec.shuffle_records", "sum", 1),
    ("*", "spillSize"): ("exec.spill_bytes", "sum", 1),
    ("HashAggregate", "aggTime"): ("exec.agg_time_s", "sum", 1e-3),
    ("HashAggregate", "peakMemory"): ("exec.agg_peak_mem_bytes", "max", 1),
    # average metrics are stored x10 and summed over the node's tasks
    ("HashAggregate", "avgHashProbe"): ("exec.agg_avg_hash_probe", "max", 0.1),
    ("BroadcastExchange", "dataSize"): ("exec.broadcast_bytes", "sum", 1),
    ("*", "pythonDataSent"): ("exec.python_bytes_sent", "sum", 1),
    ("*", "pythonDataReceived"): ("exec.python_bytes_returned", "sum", 1),
    ("*", "pythonNumRowsReceived"): ("exec.python_rows", "sum", 1),
    ("FileSourceScan", "numFiles"): ("sources.files_read", "sum", 1),
    ("FileSourceScan", "filesSize"): ("sources.bytes_read", "sum", 1),
    ("FileSourceScan", "numOutputRows"): ("sources.rows_read", "sum", 1),
}
_METRIC_RE = re.compile(r"(\w+) -> SQLMetric\(id: \d+, name: [^,]*, value: (-?\d+)\)")
_PHASE_RE = re.compile(r"(\w+) -> PhaseSummary\((\d+), (\d+)\)")
_JOIN_RE = re.compile(r"Join|CartesianProduct")


class Tracer:
    """In-memory span recorder. ``enabled=False`` makes every span a
    no-op, which is how the untraced run measures."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.op_id: int | None = None

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        rec = {
            "id": len(self.spans),
            "name": name,
            "op": self.op_id,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.perf_counter(),
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def self_times(self) -> dict[str, float]:
        """Per span name: total duration minus the time its child
        spans cover (children never overlap: one thread)."""
        child_time: dict[int, float] = defaultdict(float)
        for s in self.spans:
            if s["parent"] is not None:
                child_time[s["parent"]] += s["end"] - s["start"]
        out: dict[str, float] = defaultdict(float)
        for s in self.spans:
            out[s["name"]] += s["end"] - s["start"] - child_time[s["id"]]
        return dict(out)

    def uncovered_frac(self, root: str) -> float:
        """Share of the ``root`` spans' wall time not covered by any
        of their child spans."""
        roots = {s["id"]: s["end"] - s["start"] for s in self.spans if s["name"] == root}
        covered = sum(
            s["end"] - s["start"] for s in self.spans if s["parent"] in roots
        )
        total = sum(roots.values())
        return (total - covered) / total if total else 0.0

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)


@contextlib.contextmanager
def patched(module, name: str, tracer: Tracer, span_name: str):
    """Timing shim around ``module.name`` for the duration of the
    block; the original is restored on exit."""
    orig = getattr(module, name)

    def shim(*args, **kwargs):
        with tracer.span(span_name):
            return orig(*args, **kwargs)

    setattr(module, name, shim)
    try:
        yield
    finally:
        setattr(module, name, orig)


class Probe:
    """Reads the Spark-side counters for one op, outside its timer."""

    def __init__(self, spark: SparkSession):
        self.sc = spark.sparkContext
        self._jvm = self.sc._jvm
        self._store = spark._jsparkSession.sharedState().statusStore()
        self._gc = list(
            self._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
        )

    def gc_seconds(self) -> float:
        return sum(g.getCollectionTime() for g in self._gc) / 1000.0

    def execution_count(self) -> int:
        return int(self._store.executionsCount())

    def job_counts(self, group: str) -> dict[str, float]:
        st = self.sc.statusTracker()
        jobs = st.getJobIdsForGroup(group)
        stages = [s for j in jobs if (ji := st.getJobInfo(j)) for s in ji.stageIds]
        tasks = [si.numTasks for s in stages if (si := st.getStageInfo(s))]
        return {
            "jobs": len(jobs),
            "stages": len(stages),
            "tasks": sum(tasks),
            "single_task_stages": sum(1 for t in tasks if t == 1),
        }

    def catalyst_phases(self, df: DataFrame) -> dict[str, float]:
        text = df._jdf.queryExecution().tracker().phases().toString()
        phases = {m[1]: (int(m[3]) - int(m[2])) / 1000.0 for m in _PHASE_RE.finditer(text)}
        return {
            f"catalyst.{p}_s": phases.get(p, 0.0)
            for p in ("analysis", "optimization", "planning")
        }

    def plan_counters(self, df: DataFrame) -> dict[str, float]:
        """Walk the AQE final plan (through query stages, reused
        exchanges and subqueries) and combine the node metrics."""
        out = {c: 0.0 for c, _, _ in _PLAN_METRICS.values()}

        def visit(node) -> None:
            cls = node.getClass().getSimpleName()
            if cls == "AdaptiveSparkPlanExec":
                visit(node.executedPlan())
                return
            if cls.endswith("QueryStageExec"):
                visit(node.plan())
                return
            if cls == "ReusedExchangeExec":
                visit(node.child())
                return
            metrics = dict(_METRIC_RE.findall(node.metrics().toString()))
            for (kind, metric), (counter, how, scale) in _PLAN_METRICS.items():
                if metric in metrics and (kind == "*" or kind in cls):
                    v = int(metrics[metric]) * scale
                    out[counter] = max(out[counter], v) if how == "max" else out[counter] + v
            for seq in (node.children(), node.subqueries()):
                for i in range(seq.length()):
                    visit(seq.apply(i))

        visit(df._jdf.queryExecution().executedPlan())
        return out

    def max_join_rows(self, first_execution: int) -> int:
        """Largest row count out of any join node across the SQL
        executions started since ``first_execution``: the candidate
        pairs a dedup/ANN op generated before verifying them."""
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()
        n = self.execution_count()
        best = 0
        if n <= first_execution:
            return 0
        execs = self._store.executionsList(first_execution, n - first_execution)
        for i in range(execs.size()):
            eid = execs.apply(i).executionId()
            values = self._store.executionMetrics(eid)
            nodes = self._store.planGraph(eid).allNodes()
            for j in range(nodes.size()):
                node = nodes.apply(j)
                if not _JOIN_RE.search(node.name()):
                    continue
                ms = node.metrics()
                for k in range(ms.size()):
                    m = ms.apply(k)
                    if m.name() == "number of output rows":
                        raw = values.get(m.accumulatorId())
                        if raw.isDefined():
                            best = max(best, int(raw.get().replace(",", "")))
        return best



class ProcessCPU:
    """CPU seconds (user + system) used so far by this process, the
    JVM and every process under the JVM (the Python workers), read from
    /proc. Time the hypervisor steals from the guest is not charged to
    a process, so these readings move much less with a busy host than
    wall time does. The JVM's JIT compiler threads are left out: how
    much compiling lands inside a given op depends on timing, not on
    the op."""

    _JIT_THREADS = ("C1 CompilerThre", "C2 CompilerThre")

    def __init__(self, spark: SparkSession):
        self._jvm_pid = int(spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())
        self._tick = os.sysconf("SC_CLK_TCK")

    @staticmethod
    def _stat(path: str) -> list[str] | None:
        try:
            with open(path) as f:
                return f.read().rsplit(")", 1)[1].split()
        except OSError:
            return None  # exited while listing

    def _jvm_ticks(self) -> int:
        # reaped children of the JVM, then every live thread but the JIT's
        fields = self._stat(f"/proc/{self._jvm_pid}/stat")
        ticks = int(fields[13]) + int(fields[14]) if fields else 0
        task_dir = f"/proc/{self._jvm_pid}/task"
        for tid in os.listdir(task_dir):
            try:
                with open(f"{task_dir}/{tid}/comm") as f:
                    if f.read().strip() in self._JIT_THREADS:
                        continue
            except OSError:
                continue
            if t := self._stat(f"{task_dir}/{tid}/stat"):
                ticks += int(t[11]) + int(t[12])
        return ticks

    def seconds(self) -> float:
        stats = {}
        for entry in os.listdir("/proc"):
            if entry.isdigit() and (fields := self._stat(f"/proc/{entry}/stat")):
                # fields[1] is ppid; [11:15] utime stime cutime cstime
                stats[int(entry)] = (int(fields[1]), sum(int(x) for x in fields[11:15]))
        tree = {self._jvm_pid}
        grew = True
        while grew:
            grew = False
            for pid, (ppid, _) in stats.items():
                if ppid in tree and pid not in tree:
                    tree.add(pid)
                    grew = True
        tree.discard(self._jvm_pid)
        ticks = sum(stats[p][1] for p in tree | {os.getpid()} if p in stats)
        return (ticks + self._jvm_ticks()) / self._tick


def peak_rss_mb(spark: SparkSession) -> float:
    """Peak RSS (VmHWM) of this driver process plus the JVM."""
    jvm_pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    return (_vm_hwm_kb("self") + _vm_hwm_kb(str(jvm_pid))) / 1024.0


def _vm_hwm_kb(pid: str) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    raise RuntimeError(f"no VmHWM in /proc/{pid}/status")
