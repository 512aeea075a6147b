"""Per-layer figures read from outside the program, through py4j.

Spark keeps its status stores with the UI off: the AppStatusStore
(jobs, stage attempts, task summaries) and the SQL status store
(per-execution plan metrics, among them the Python-worker metrics of
the pandas kernels). ``CodegenMetrics`` counts whole-stage codegen
compiles. Nothing here touches the engine.

Jobs and SQL executions are attributed to a request by id window: ids
are handed out in submission order and the benchmark is the only
client, so every job submitted between a request's start and end is
that request's. A job group would miss the jobs the index build
submits from its own threads, which do not inherit the group.
"""

from __future__ import annotations

import re
import statistics

from py4j.protocol import Py4JJavaError

_PY_METRICS = {
    "time to run Python workers": "python_run_ms",
    "data sent to Python workers": "python_sent_b",
    "data returned from Python workers": "python_returned_b",
}
_PLAN_METRIC = re.compile(r"SQLPlanMetric\(([^,]*),(\d+),([^)]*)\)")
_UNITS = {
    "ms": 1.0, "s": 1e3, "m": 60e3, "h": 3600e3,
    "B": 1.0, "KiB": 1024.0, "MiB": 1024.0**2, "GiB": 1024.0**3,
}


def parse_metric(text: str) -> float:
    """A SQL metric as the status store formats it: ``'1.4 s'``, or for
    multi-task nodes ``'total (min, med, max (...))\\n1.4 s (...)'``.
    Timings come back in ms, sizes in bytes."""
    line = text.split("\n")[-1]
    value, unit = line.split(" (")[0].split()
    return float(value) * _UNITS[unit]


class SparkTrace:
    """Counters of one SparkContext, read by id windows."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        jsc = self.sc._jsc.sc()
        self._bus = jsc.listenerBus()
        self._store = jsc.statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._dag = jsc.dagScheduler()
        self._codegen = (
            self.sc._jvm.org.apache.spark.metrics.source.CodegenMetrics
            .METRIC_COMPILATION_TIME()
        )
        self._gw = self.sc._gateway

    def mark(self) -> tuple[int, int, int]:
        """(jobs submitted so far, SQL executions so far, codegen
        compiles so far)."""
        return (
            self._dag.numTotalJobs(),
            int(self._sql.executionsCount()),
            int(self._codegen.getCount()),
        )

    def drain(self) -> None:
        """Let the listener bus deliver every pending event to the
        stores (they are fed asynchronously)."""
        self._bus.waitUntilEmpty()

    def _stages(self, job_lo: int, job_hi: int) -> list:
        out = {}
        for j in range(job_lo, job_hi):
            try:
                job = self._store.job(j)
            except Py4JJavaError:
                continue  # evicted or never registered
            ids = job.stageIds()
            for i in range(ids.size()):
                sid = ids.apply(i)
                if sid in out:
                    continue
                try:
                    st = self._store.lastStageAttempt(sid)
                except Py4JJavaError:
                    continue  # skipped: never attempted
                if str(st.status()) == "COMPLETE":
                    out[sid] = st
        return list(out.values())

    def window(self, before: tuple, after: tuple) -> dict:
        """Everything the program ran between two :meth:`mark` calls.
        Call :meth:`drain` first."""
        (j0, e0, c0), (j1, e1, c1) = before, after
        stages = self._stages(j0, j1)
        out = {
            "jobs": j1 - j0,
            "stages": len(stages),
            "tasks": sum(s.numCompleteTasks() for s in stages),
            "codegen_compiles": c1 - c0,
            "executor_run_ms": sum(s.executorRunTime() for s in stages),
            "executor_cpu_ms": sum(s.executorCpuTime() for s in stages) / 1e6,
            "shuffle_bytes": sum(s.shuffleWriteBytes() for s in stages),
            "python_run_ms": 0.0,
            "python_sent_b": 0.0,
            "python_returned_b": 0.0,
        }
        if e1 > e0:
            execs = self._sql.executionsList(e0, e1 - e0)
            for i in range(execs.size()):
                ex = execs.apply(i)
                values = self._sql.executionMetrics(ex.executionId())
                seen = set()
                for name, acc, _kind in _PLAN_METRIC.findall(ex.metrics().toString()):
                    key = _PY_METRICS.get(name)
                    if key is None or acc in seen:
                        continue  # plan nodes repeat an accumulator
                    seen.add(acc)
                    v = values.get(int(acc))
                    if v.isDefined():
                        out[key] += parse_metric(v.get())
        return out

    def task_skew(self, windows: list[tuple]) -> float:
        """max / median task run time of the costliest stage in the
        windows (the stage whose tasks ran longest in total)."""
        stages = [
            s for before, after in windows
            for s in self._stages(before[0], after[0]) if s.numCompleteTasks() > 1
        ]
        if not stages:
            return 1.0
        top = max(stages, key=lambda s: s.executorRunTime())
        tasks = self._store.taskList(top.stageId(), top.attemptId(), top.numTasks())
        run = []
        for i in range(tasks.size()):
            m = tasks.apply(i).taskMetrics()
            if m.isDefined():
                run.append(m.get().executorRunTime())
        med = statistics.median(run) if run else 0
        return max(run) / med if med > 0 else 1.0


def per_request(windows: list[dict]) -> dict[str, float]:
    """Mean per request of every window counter."""
    if not windows:
        return {}
    return {key: statistics.fmean(w[key] for w in windows) for key in windows[0]}
