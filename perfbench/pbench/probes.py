"""Read Spark's own measurements from outside the program: Catalyst phase
times and final-plan SQL metrics of an executed query, job/stage/task
counts from the status tracker, and streaming progress events.
"""

from __future__ import annotations

import json
import threading

from pyspark.sql.streaming import StreamingQueryListener

#: SQL metric name -> per-layer metric it feeds (summed over plan nodes,
#: except peak memory, which keeps the largest node).
SQL_METRICS = {
    "scanTime": "exec.scan_ms",
    "pipelineTime": "exec.pipeline_ms",
    "shuffleBytesWritten": "exec.shuffle_bytes",
    "shuffleRecordsWritten": "exec.shuffle_records",
    "spillSize": "exec.spill_bytes",
    "peakMemory": "exec.peak_mem_bytes",
    "buildTime": "exec.broadcast_build_ms",  # also hash-join builds, if any
    "pythonInitTime": "py.init_ms",
    "pythonTotalTime": "py.total_ms",
    "pythonNumRowsReceived": "py.rows_received",
    "pythonDataSent": "py.bytes_sent",
}
_MAX_METRICS = {"exec.peak_mem_bytes"}

PHASES = ("analysis", "optimization", "planning")


def phases_ms(df) -> dict[str, float]:
    """Catalyst phase times of the DataFrame's own (executed) QueryExecution.

    An action on the DataFrame itself (toPandas/collect) runs this
    QueryExecution; a write through a sink would build a new one whose
    phases this one never sees.
    """
    qe = df._jdf.queryExecution()
    ph = qe.tracker().phases()
    out = {}
    for name in PHASES:
        opt = ph.get(name)
        out[name] = float(opt.get().durationMs()) if opt.isDefined() else 0.0
    return out


def _seq(s) -> list:
    return [s.apply(i) for i in range(s.size())]


def plan_metrics(df) -> dict[str, float]:
    """Sum of the named SQL metrics over every node of the final plan.

    Walks into AdaptiveSparkPlanExec's final plan and every query
    stage's plan, and into subqueries, so metrics of stages AQE
    re-planned are counted once, from the plan that ran.
    """
    out = {m: 0.0 for m in SQL_METRICS.values()}
    root = df._jdf.queryExecution().executedPlan()
    seen: set[int] = set()
    stack = [root]
    while stack:
        node = stack.pop()
        cls = node.getClass().getSimpleName()
        if cls == "AdaptiveSparkPlanExec":
            stack.append(node.executedPlan())
            continue
        if cls.endswith("QueryStageExec"):
            stack.append(node.plan())
            continue
        key = node.id()
        if key in seen:
            continue
        seen.add(key)
        it = node.metrics().iterator()
        while it.hasNext():
            kv = it.next()
            name = kv._1()
            if name in SQL_METRICS:
                v = float(kv._2().value())
                dst = SQL_METRICS[name]
                out[dst] = max(out[dst], v) if dst in _MAX_METRICS else out[dst] + v
        stack.extend(_seq(node.children()))
        stack.extend(_seq(node.subqueries()))
    return out


def job_counts(spark, group: str) -> tuple[int, int]:
    """(stages, tasks) of every job run under a job group."""
    st = spark.sparkContext.statusTracker()
    stages = tasks = 0
    for jid in st.getJobIdsForGroup(group):
        info = st.getJobInfo(jid)
        if info is None:
            continue
        for sid in info.stageIds:
            sinfo = st.getStageInfo(sid)
            if sinfo is not None:
                stages += 1
                tasks += sinfo.numTasks
    return stages, tasks


class ProgressLog(StreamingQueryListener):
    """Keeps every progress event of every streaming query, by query id,
    as the parsed JSON the engine reports (durationMs, sources with
    start/end offsets, stateOperators, eventTime), and the ids of the
    queries that terminated."""

    def __init__(self):
        self._cond = threading.Condition()
        self.events: dict[str, list[dict]] = {}
        self.terminated: set[str] = set()

    def onQueryStarted(self, event):
        pass

    def onQueryProgress(self, event):
        p = json.loads(event.progress.json)
        with self._cond:
            self.events.setdefault(p["id"], []).append(p)

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        with self._cond:
            self.terminated.add(str(event.id))
            self._cond.notify_all()

    def wait_terminated(self, name: str, timeout: float = 30.0) -> bool:
        """Wait until the query named ``name`` has terminated on the
        listener bus, after which all its progress events are here."""
        def done():
            return any(evs[0].get("name") == name and qid in self.terminated
                       for qid, evs in self.events.items())

        with self._cond:
            return self._cond.wait_for(done, timeout)

    def take(self) -> list[dict]:
        """All events recorded so far, in batch order per query; clears."""
        with self._cond:
            out = [p for evs in self.events.values() for p in sorted(evs, key=lambda e: e["batchId"])]
            self.events.clear()
            self.terminated.clear()
            return out
