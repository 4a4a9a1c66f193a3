"""Reads Spark's own metrics from outside the engine: the SQL operator
metrics the session's status store keeps per execution, the jobs each
execution ran, and executor GC / failed-task counters.

Only traced runs use this module; untraced runs never touch the status
store between timed operations.
"""

from __future__ import annotations

from perfbench.harness import PlanNode


class SparkWatch:
    def __init__(self, spark) -> None:
        self.spark = spark
        jsc = spark.sparkContext._jsc.sc()
        self._bus = jsc.listenerBus()
        self._app = jsc.statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._cc = spark._jvm.scala.jdk.javaapi.CollectionConverters
        self._seen = self._max_id()

    def _list(self, seq) -> list:
        return list(self._cc.asJava(seq))

    def _max_id(self) -> int:
        self._bus.waitUntilEmpty()
        return max((e.executionId() for e in self._list(self._sql.executionsList())), default=-1)

    def new_executions(self) -> list[int]:
        """Ids of SQL executions that finished since the last call."""
        self._bus.waitUntilEmpty()
        ids = sorted(
            e.executionId() for e in self._list(self._sql.executionsList()) if e.executionId() > self._seen
        )
        if ids:
            self._seen = ids[-1]
        return ids

    def submit_times(self, eids: list[int]) -> dict[int, int]:
        """Execution id -> submission time (epoch ms)."""
        out = {}
        for eid in eids:
            ex = self._sql.execution(eid)
            if not ex.isEmpty():
                out[eid] = int(ex.get().submissionTime())
        return out

    def nodes(self, eids: list[int]) -> list[PlanNode]:
        out: list[PlanNode] = []
        for eid in eids:
            values = self._cc.asJava(self._sql.executionMetrics(eid))
            for n in self._list(self._sql.planGraph(eid).allNodes()):
                metrics = {
                    m.name(): (m.metricType(), values.get(m.accumulatorId()) or "")
                    for m in self._list(n.metrics())
                }
                out.append(PlanNode(n.name(), n.desc(), metrics))
        return out

    def jobs(self, eids: list[int]) -> list[dict]:
        """Jobs of the given executions: id, task count, start/end (ms)."""
        out = []
        for eid in eids:
            ex = self._sql.execution(eid)
            if ex.isEmpty():
                continue
            for jid in self._cc.asJava(ex.get().jobs()).keySet():
                jd = self._app.job(int(jid))
                sub, done = jd.submissionTime(), jd.completionTime()
                out.append(
                    {
                        "job": int(jid),
                        "tasks": int(jd.numTasks()),
                        "start_ms": sub.get().getTime() if sub.isDefined() else None,
                        "end_ms": done.get().getTime() if done.isDefined() else None,
                    }
                )
        return out

    def stage_tasks(self, stage_id: int) -> int:
        info = self.spark.sparkContext.statusTracker().getStageInfo(stage_id)
        return int(info.numTasks) if info is not None else 1

    def executor_totals(self) -> dict[str, float]:
        self._bus.waitUntilEmpty()
        gc = failed = 0
        for e in self._list(self._app.executorList(True)):
            gc += e.totalGCTime()
            failed += e.failedTasks()
        return {"gc_ms": float(gc), "failed_tasks": float(failed)}
