"""Read Spark's own status stores after an operation.

``AppStatusStore`` gives jobs and stages (run time, CPU, GC, shuffle,
spill); ``SQLAppStatusStore`` gives per-plan-node SQL metrics through
``planGraph`` + ``executionMetrics``.  Both are kept by the driver with
``spark.ui.enabled=false``.  Work is attributed by job group: the caller
sets a group around each phase and passes the groups in here.
"""

from __future__ import annotations

from dataclasses import dataclass, field

_SIZE = {"B": 1.0, "KiB": 2.0**10, "MiB": 2.0**20, "GiB": 2.0**30, "TiB": 2.0**40}
_TIME = {"ms": 1e-3, "s": 1.0, "m": 60.0, "min": 60.0, "h": 3600.0}


def parse_metric(text: str) -> float:
    """A formatted SQL metric value as a number in bytes, seconds or units.

    Task-side metrics read ``total (min, med, max ...)\\n<total> (...)``;
    driver-side ones hold the bare value, e.g. ``72,482``, ``1.2 MiB``,
    ``340 ms``."""
    total = text.strip().split("\n")[-1].split(" (")[0].split()
    value = float(total[0].replace(",", ""))
    if len(total) > 1:
        value *= _SIZE.get(total[1], _TIME.get(total[1], 1.0))
    return value


@dataclass
class StageTotals:
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    failed_tasks: int = 0
    task_run_s: float = 0.0
    task_cpu_s: float = 0.0
    gc_s: float = 0.0
    shuffle_write_bytes: float = 0.0
    spill_bytes: float = 0.0
    job_ids: list = field(default_factory=list)


class StatusReader:
    def __init__(self, spark):
        self._sc = spark.sparkContext
        self._jsc = self._sc._jsc.sc()
        self._app = self._jsc.statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._conv = spark._jvm.scala.jdk.javaapi.CollectionConverters
        self._seen_executions = self._sql.executionsCount()

    def _list(self, seq):
        return list(self._conv.asJava(seq))

    def drain(self) -> None:
        """Wait until the listener bus has delivered every event so far."""
        self._jsc.listenerBus().waitUntilEmpty()

    def stage_totals(self, groups) -> StageTotals:
        """Jobs and stages started under any of ``groups``."""
        out = StageTotals()
        for group in groups:
            out.job_ids.extend(self._sc.statusTracker().getJobIdsForGroup(group))
        out.jobs = len(out.job_ids)
        stage_ids = set()
        for job_id in out.job_ids:
            stage_ids.update(self._list(self._app.job(job_id).stageIds()))
        for sid in stage_ids:
            sd = self._app.lastStageAttempt(sid)
            if sd.status().toString() == "SKIPPED":
                continue
            out.stages += 1
            out.tasks += sd.numCompleteTasks()
            out.failed_tasks += sd.numFailedTasks()
            out.task_run_s += sd.executorRunTime() / 1e3
            out.task_cpu_s += sd.executorCpuTime() / 1e9
            out.gc_s += sd.jvmGcTime() / 1e3
            out.shuffle_write_bytes += sd.shuffleWriteBytes()
            out.spill_bytes += sd.diskBytesSpilled()
        return out

    def sql_nodes(self, job_ids) -> list:
        """``(node name, {metric name: value})`` for every plan node of the SQL
        executions since the last call that ran any of ``job_ids``."""
        job_ids = set(job_ids)
        count = self._sql.executionsCount()
        executions = self._list(self._sql.executionsList(self._seen_executions, count))
        self._seen_executions = count
        nodes = []
        for ex in executions:
            if not job_ids.intersection(int(j) for j in self._list(ex.jobs().keys())):
                continue
            eid = ex.executionId()
            values = dict(self._conv.asJava(self._sql.executionMetrics(eid)))
            for node in self._list(self._sql.planGraph(eid).allNodes()):
                metrics = {}
                for m in self._list(node.metrics()):
                    text = values.get(m.accumulatorId())
                    if text is not None:
                        metrics[m.name()] = parse_metric(text)
                nodes.append((node.name(), metrics))
        return nodes
