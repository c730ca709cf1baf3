"""Per-layer counters read from outside the engine, from Spark's own status
stores: the job/stage store behind ``statusTracker()``, the SQL store in
``sharedState()``, the query's phase tracker and the driver JVM's GC beans.
Only the traced run uses this module."""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, SparkSession

#: SQL metric name of a Python exec node -> layer metric
_PYTHON_METRICS = {
    "data sent to Python workers": "arrow.bytes_to_python",
    "data returned from Python workers": "arrow.bytes_from_python",
    "time to run Python workers": "arrow.python_run_s",
    "time to start Python workers": "arrow.python_start_s",
}
_UNITS = {
    "B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40,
    "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
}
_PLAN_METRIC = re.compile(r"SQLPlanMetric\(([^\u0001]*?),(\d+),\w+\)")
_SEP = "\u0001"
_VALUE = re.compile(r"(\d+(?:\.\d+)?) (B|KiB|MiB|GiB|TiB|ms|s|m|h)\b")


def parse_metric(text: str) -> float:
    """The total of a formatted SQL metric, e.g. ``'total (min, med, max
    ...)\\n4.6 s (1.1 s, ...)'`` -> 4.6 (bytes for sizes, seconds for
    times)."""
    body = text.split("\n", 1)[-1]
    m = _VALUE.search(body)
    return float(m.group(1)) * _UNITS[m.group(2)] if m else 0.0


def _scala_ints(seq) -> list[int]:
    s = seq.mkString(",")
    return [int(x) for x in s.split(",")] if s else []


class SparkProbe:
    def __init__(self, spark: SparkSession):
        jsc = spark.sparkContext._jsc.sc()
        self._sc = spark.sparkContext
        self._jsc = jsc
        self._store = jsc.statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._gc = spark._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
        self._seen_stages: set[int] = set()
        self._last_execution = -1

    def drain(self) -> None:
        """Wait until the listener bus has delivered every event, so the
        stores hold the finished jobs' final counters."""
        self._jsc.listenerBus().waitUntilEmpty()

    def jobs(self, group: str) -> list[int]:
        return sorted(self._sc.statusTracker().getJobIdsForGroup(group))

    def job_intervals(self, job_ids: list[int]) -> list[tuple[float, float]]:
        """(submission, completion) of each finished job, epoch seconds."""
        out = []
        for j in job_ids:
            jd = self._store.job(j)
            if jd.submissionTime().isDefined() and jd.completionTime().isDefined():
                out.append(
                    (
                        jd.submissionTime().get().getTime() / 1e3,
                        jd.completionTime().get().getTime() / 1e3,
                    )
                )
        return out

    def stage_counters(self, job_ids: list[int]) -> dict[str, float]:
        """Sums over the stages the jobs ran (skipped stages and stages
        counted for an earlier op are left out)."""
        c = dict.fromkeys(
            (
                "scheduler.stages", "scheduler.tasks", "execution.task_run_s",
                "execution.task_cpu_s", "execution.shuffle_write_bytes",
                "execution.shuffle_read_bytes", "execution.shuffle_fetch_wait_s",
                "execution.spill_bytes", "sources.input_bytes", "sources.input_rows",
                "sinks.output_bytes", "driver.result_bytes",
            ),
            0.0,
        )
        for j in job_ids:
            for sid in _scala_ints(self._store.job(j).stageIds()):
                if sid in self._seen_stages:
                    continue
                self._seen_stages.add(sid)
                sd = self._store.lastStageAttempt(sid)
                if sd.status().toString() == "SKIPPED":
                    continue
                c["scheduler.stages"] += 1
                c["scheduler.tasks"] += sd.numTasks()
                c["execution.task_run_s"] += sd.executorRunTime() / 1e3
                c["execution.task_cpu_s"] += sd.executorCpuTime() / 1e9
                c["execution.shuffle_write_bytes"] += sd.shuffleWriteBytes()
                c["execution.shuffle_read_bytes"] += sd.shuffleReadBytes()
                c["execution.shuffle_fetch_wait_s"] += sd.shuffleFetchWaitTime() / 1e3
                c["execution.spill_bytes"] += sd.diskBytesSpilled()
                c["sources.input_bytes"] += sd.inputBytes()
                c["sources.input_rows"] += sd.inputRecords()
                c["sinks.output_bytes"] += sd.outputBytes()
                c["driver.result_bytes"] += sd.resultSize()
        return c

    def python_counters(self) -> dict[str, float]:
        """Sums of the Python exec nodes' SQL metrics over the SQL
        executions that started since the previous call (or since
        ``skip_executions``)."""
        c = dict.fromkeys(_PYTHON_METRICS.values(), 0.0)
        new = []
        end = self._sql.executionsCount()
        while end > 0:  # walk back from the newest in chunks
            start = max(0, end - 32)
            chunk = self._sql.executionsList(start, end - start)
            uis = [chunk.apply(i) for i in range(chunk.size())]
            fresh = [ui for ui in uis if ui.executionId() > self._last_execution]
            new += fresh
            if len(fresh) < len(uis):
                break
            end = start
        for ui in new:
            self._last_execution = max(self._last_execution, ui.executionId())
            # one Py4J call per list: SQLPlanMetric(name,accumulatorId,type) ...
            ids = {
                int(acc): _PYTHON_METRICS[name]
                for name, acc in _PLAN_METRIC.findall(ui.metrics().mkString(_SEP))
                if name in _PYTHON_METRICS
            }
            if not ids:
                continue
            values = self._sql.executionMetrics(ui.executionId()).mkString(_SEP)
            for entry in values.split(_SEP):
                acc, _, text = entry.partition(" -> ")
                if acc and int(acc) in ids:
                    c[ids[int(acc)]] += parse_metric(text)
        return c

    def skip_executions(self) -> None:
        """Mark every SQL execution so far as seen."""
        n = self._sql.executionsCount()
        if n:
            self._last_execution = self._sql.executionsList(n - 1, 1).apply(0).executionId()

    def gc_s(self) -> float:
        return sum(self._gc.get(i).getCollectionTime() for i in range(self._gc.size())) / 1e3

    def cached_bytes(self) -> int:
        return sum(r.memSize() + r.diskSize() for r in self._jsc.getRDDStorageInfo())


def catalyst_phases(df: DataFrame) -> dict[str, float]:
    """Seconds per Catalyst phase of ``df``'s query. ``executedPlan()`` is
    forced first: before execution only ``analysis`` is recorded."""
    qe = df._jdf.queryExecution()
    qe.executedPlan()
    phases = {"analysis": 0.0, "optimization": 0.0, "planning": 0.0}
    it = qe.tracker().phases().iterator()
    while it.hasNext():
        kv = it.next()
        if kv._1() in phases:
            phases[kv._1()] = kv._2().durationMs() / 1e3
    return {f"catalyst.{k}_s": v for k, v in phases.items()}
