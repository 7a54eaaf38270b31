"""Per-run counters read from Spark's own status stores.

Two stores, both read through the Spark JVM after a run ends:

- ``AppStatusStore`` (jobs and stage data): task counts, executor run and
  CPU time, GC time, input and shuffle bytes;
- the SQL status store: each SQL execution's final plan graph and its
  metric values, which carry the Python-boundary times and bytes of every
  Python plan node and the size of every broadcast.

The stores keep only the most recent ``spark.ui.retained*`` jobs, stages
and executions (1000 by default), so a run's counters are read right after
that run, keyed on the ids Spark handed out after ``mark()``.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field

_UNITS = {
    "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
    "B": 1.0, "KiB": 2.0**10, "MiB": 2.0**20, "GiB": 2.0**30, "TiB": 2.0**40,
}
_VALUE = re.compile(r"([0-9][0-9,]*(?:\.[0-9]+)?)\s*([A-Za-z]+)?")

PYTHON_METRICS = {
    "time to start Python workers": "boot_s",
    "time to initialize Python workers": "init_s",
    "time to run Python workers": "run_s",
    "data sent to Python workers": "sent_mb",
    "data returned from Python workers": "recv_mb",
}
_COMMIT_METRICS = ("task commit time", "job commit time")


def parse_metric(text: str) -> float:
    """A SQL-store metric string as seconds, bytes or a plain count.

    Aggregated metrics read ``total (min, med, max ...)\\n<total> (...)``;
    single ones read ``<value> <unit>``.  The total is what is returned."""
    m = _VALUE.search(text.rsplit("\n", 1)[-1])
    if m is None:
        return 0.0
    value = float(m.group(1).replace(",", ""))
    return value * _UNITS.get(m.group(2) or "", 1.0)


@dataclass
class Mark:
    job: int
    stage: int
    execution: int


@dataclass
class RunStats:
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    failed_tasks: int = 0
    executor_run_s: float = 0.0
    executor_cpu_s: float = 0.0
    jvm_gc_s: float = 0.0
    input_mb: float = 0.0
    shuffle_read_mb: float = 0.0
    shuffle_write_mb: float = 0.0
    broadcast_mb: float = 0.0
    commit_s: float = 0.0
    # one dict per Python plan node: name + PYTHON_METRICS values
    python_nodes: list[dict] = field(default_factory=list)

    def python_sum(self, key: str, node_name: str | None = None) -> float:
        return sum(
            n[key] for n in self.python_nodes
            if node_name is None or n["name"] == node_name
        )


class StatusReader:
    def __init__(self, spark):
        self._sc = spark.sparkContext
        self._store = self._sc._jsc.sc().statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        gw = self._sc._gateway
        self._no_quantiles = gw.new_array(gw.jvm.double, 0)

    def _jobs(self):
        return _seq(self._store.jobsList(None))

    def _stages(self):
        return _seq(
            self._store.stageList(None, False, False, self._no_quantiles, None)
        )

    def _executions_after(self, execution_id: int) -> list:
        """Executions with a larger id; the store lists them by ascending
        id, so only its tail is fetched."""
        count = self._sql.executionsCount()
        length = 16
        while True:
            offset = max(count - length, 0)
            tail = list(_seq(self._sql.executionsList(offset, length)))
            if offset == 0 or not tail or tail[0].executionId() <= execution_id:
                return [e for e in tail if e.executionId() > execution_id]
            length *= 4

    def mark(self) -> Mark:
        # jobs and stages are listed by descending id
        job = next(self._jobs(), None)
        stage = next(self._stages(), None)
        last = self._executions_after(-1)[-1:] if self._sql.executionsCount() else []
        return Mark(
            job=job.jobId() if job is not None else -1,
            stage=stage.stageId() if stage is not None else -1,
            execution=last[0].executionId() if last else -1,
        )

    def since(self, mark: Mark) -> RunStats:
        out = RunStats()
        for j in self._jobs():
            if j.jobId() <= mark.job:
                break
            out.jobs += 1
        for s in self._stages():
            if s.stageId() <= mark.stage:
                break
            out.stages += 1
            out.tasks += s.numTasks()
            out.failed_tasks += s.numFailedTasks()
            out.executor_run_s += s.executorRunTime() / 1e3
            out.executor_cpu_s += s.executorCpuTime() / 1e9
            out.jvm_gc_s += s.jvmGcTime() / 1e3
            out.input_mb += s.inputBytes() / 1e6
            out.shuffle_read_mb += s.shuffleReadBytes() / 1e6
            out.shuffle_write_mb += s.shuffleWriteBytes() / 1e6
        for e in self._executions_after(mark.execution):
            self._read_plan(e.executionId(), out)
        return out

    def _read_plan(self, eid: int, out: RunStats) -> None:
        values = self._sql.executionMetrics(eid)
        for node in _seq(self._sql.planGraph(eid).allNodes()):
            name = node.name()
            python: dict = {}
            for metric in _seq(node.metrics()):
                label = metric.name()
                key = PYTHON_METRICS.get(label)
                wanted = (
                    key is not None
                    or label in _COMMIT_METRICS
                    or (label == "data size" and name == "BroadcastExchange")
                )
                if not wanted:
                    continue
                v = values.get(metric.accumulatorId())
                x = parse_metric(v.get()) if v.isDefined() else 0.0
                if key is not None:
                    python[key] = x / 1e6 if key.endswith("_mb") else x
                elif label in _COMMIT_METRICS:
                    out.commit_s += x
                else:
                    out.broadcast_mb += x / 1e6
            if python:
                out.python_nodes.append(
                    {"name": name, **{k: python.get(k, 0.0)
                                      for k in PYTHON_METRICS.values()}}
                )


def _seq(scala_seq):
    it = scala_seq.iterator()
    while it.hasNext():
        yield it.next()
