"""Spans and Spark status-store counters for the traced run.

Everything here observes from outside the engine: a span times a call,
and, when it is a Spark phase, gives that call its own job group so the
jobs, stages and tasks it launched can be read back from
``sc._jsc.sc().statusStore()`` (it works with ``spark.ui.enabled=false``).
Python-worker counters are the SQL metrics Spark attaches to the Python
exec nodes (``ArrowEvalPython``, ``MapInPandas``, ``FlatMapGroupsInPandas``
...), read from the SQL status store.
"""

from __future__ import annotations

import re
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

from py4j.protocol import Py4JJavaError

_MB = 1024 * 1024
# Python exec node SQL metrics (PythonSQLMetrics) -> per-layer names.
# Spark keeps SQL metrics out of the stage data, so they are read from
# the SQL status store, where they arrive as display strings.
PY_METRICS = {
    "number of output rows": "rows_received",
    "data sent to Python workers": "bytes_sent",
    "data returned from Python workers": "bytes_received",
    "time to run Python workers": "worker_ms",
}
_PY_NODE = re.compile(r"Python|Pandas|InArrow")
_SIZE = {"B": 1 / _MB, "KiB": 1 / 1024, "MiB": 1.0, "GiB": 1024.0, "TiB": 1024.0**2}
_TIME = {"ms": 1.0, "s": 1e3, "m": 6e4, "h": 3.6e6}


def _metric_value(text: str) -> float:
    """The total of one SQL metric display string: ``1,234`` for a count,
    ``total (min, med, max ...)\n10.0 MiB (...)`` for a size (MB) or a
    time (ms)."""
    total = text.split("\n")[-1].split(" (")[0].strip()
    num, _, unit = total.partition(" ")
    value = float(num.replace(",", ""))
    return value * _SIZE.get(unit, _TIME.get(unit, 1.0))


STAGE_FIELDS = (
    "stages", "tasks", "exec_run_ms", "exec_cpu_ms", "gc_ms", "shuffle_read_mb",
    "shuffle_write_mb", "spill_mb", "input_mb", "input_rows", "output_mb",
)


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    run: str = ""
    counters: dict = field(default_factory=dict)

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    """In-memory span tree. ``span`` nests by call order; ``phase`` is a
    span whose Spark jobs are counted through a dedicated job group."""

    def __init__(self, spark, run_id: str):
        self.sc = spark.sparkContext
        self.store = self.sc._jsc.sc().statusStore()
        self.sql_store = spark._jsparkSession.sharedState().statusStore()
        self.run = run_id
        self.spans: list[Span] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        s = Span(name, time.perf_counter(), parent=parent, run=self.run)
        self.spans.append(s)
        self._stack.append(len(self.spans) - 1)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()

    @contextmanager
    def phase(self, name: str):
        group = f"perfbench:{self.run}:{len(self.spans)}"
        n_exec = self.sql_store.executionsCount()
        outer = self.sc.getLocalProperty("spark.jobGroup.id")
        self.sc.setJobGroup(group, name)
        try:
            with self.span(name) as s:
                yield s
        finally:
            if outer is None:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)
            else:
                self.sc.setJobGroup(outer, outer)
            # the status stores are fed by the listener bus, asynchronously
            self.sc._jsc.sc().listenerBus().waitUntilEmpty()
            s.counters = self.job_counters(group)
            s.counters.update(self.python_counters(n_exec))

    def python_counters(self, first_exec: int) -> dict:
        """Python exec node metrics of the SQL executions numbered from
        ``first_exec`` on, plus the run time of the stages of the executions
        that hold such a node. Spark keeps SQL metrics out of the stage
        data, so a node cannot be tied to its own stage; an execution's
        stages are the finest grain the status stores give."""
        out = {"py." + v: 0.0 for v in PY_METRICS.values()}
        out["py.stage_run_ms"] = 0.0
        stages = set()
        n = self.sql_store.executionsCount() - first_exec
        execs = self.sql_store.executionsList(first_exec, n) if n > 0 else None
        for i in range(execs.size() if execs else 0):
            execution = execs.apply(i)
            exec_id = execution.executionId()
            nodes = self.sql_store.planGraph(exec_id).allNodes()
            values = None
            for j in range(nodes.size()):
                node = nodes.apply(j)
                if not _PY_NODE.search(node.name()):
                    continue
                if values is None:
                    values = {}
                    it = self.sql_store.executionMetrics(exec_id).iterator()
                    while it.hasNext():
                        kv = it.next()
                        values[kv._1()] = kv._2()
                metrics = node.metrics()
                for k in range(metrics.size()):
                    m = metrics.apply(k)
                    text = values.get(m.accumulatorId())
                    if m.name() not in PY_METRICS or text is None:
                        continue
                    out["py." + PY_METRICS[m.name()]] += _metric_value(text)
            if values is not None:
                it = execution.stages().iterator()
                while it.hasNext():
                    stages.add(it.next())
        for sid in stages:
            try:
                out["py.stage_run_ms"] += self.store.lastStageAttempt(sid).executorRunTime()
            except Py4JJavaError:
                continue
        return out

    def job_counters(self, group: str) -> dict:
        """Sum the status-store data of every job in ``group``."""
        out = dict.fromkeys(STAGE_FIELDS, 0.0)
        job_ids = self.sc.statusTracker().getJobIdsForGroup(group)
        out["jobs"] = float(len(job_ids))
        seen = set()
        for jid in job_ids:
            try:
                stage_ids = self.store.job(jid).stageIds()
            except Py4JJavaError:
                continue
            it = stage_ids.iterator()
            while it.hasNext():
                sid = it.next()
                if sid in seen:
                    continue
                seen.add(sid)
                try:
                    st = self.store.lastStageAttempt(sid)
                except Py4JJavaError:
                    continue  # skipped (reused) stage: no attempt ran
                if st.numTasks() == 0 or str(st.status()) == "SKIPPED":
                    continue
                run_ms = st.executorRunTime()
                out["stages"] += 1
                out["tasks"] += st.numCompleteTasks()
                out["exec_run_ms"] += run_ms
                out["exec_cpu_ms"] += st.executorCpuTime() / 1e6
                out["gc_ms"] += st.jvmGcTime()
                out["shuffle_read_mb"] += (st.shuffleRemoteBytesRead() + st.shuffleLocalBytesRead()) / _MB
                out["shuffle_write_mb"] += st.shuffleWriteBytes() / _MB
                out["spill_mb"] += (st.memoryBytesSpilled() + st.diskBytesSpilled()) / _MB
                out["input_mb"] += st.inputBytes() / _MB
                out["input_rows"] += st.inputRecords()
                out["output_mb"] += st.outputBytes() / _MB
        return out

    def persisted_mb(self) -> float:
        """Memory + disk held by persisted RDDs right now."""
        infos = self.store.rddList(True)
        total = 0
        for i in range(infos.size()):
            info = infos.apply(i)
            total += info.memoryUsed() + info.diskUsed()
        return total / _MB

    def self_seconds(self, i: int) -> float:
        s = self.spans[i]
        return s.seconds - sum(c.seconds for c in self.spans if c.parent == i)

    def to_json(self) -> list[dict]:
        t0 = self.spans[0].start if self.spans else 0.0
        return [
            {
                "id": i, "name": s.name, "parent": s.parent, "run": s.run,
                "start": s.start - t0, "end": s.end - t0, "counters": s.counters,
            }
            for i, s in enumerate(self.spans)
        ]
