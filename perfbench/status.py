"""Reads Spark's own status store (jobs, stages, SQL executions).

The store works with ``spark.ui.enabled=false``. It keeps only the most
recent 1000 jobs and stages, so it is read once per pass, right after
the pass, and split into per-query windows here. Py4J call shapes, as
verified on PySpark 4.1.2:

- ``stageList`` has no one-argument overload, and ``None`` for the
  quantiles array throws inside the JVM, so an empty ``double[]`` is
  passed;
- ``jobsList`` returns a Scala ``Seq`` (``size()`` / ``apply(i)``),
  with dates as ``Option[java.util.Date]``;
- SQL executions come from the session's shared state, not the
  context.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field

STAGE_COUNTERS = (
    "executor_run_s", "executor_cpu_s", "gc_s", "shuffle_read_bytes",
    "shuffle_write_bytes", "spill_bytes", "input_bytes",
)


def union_length(intervals, lo: float, hi: float) -> float:
    """Length of the union of ``intervals``, clipped to [lo, hi]."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


@dataclass
class Job:
    id: int
    start: float
    end: float
    stage_ids: list[int]


@dataclass
class Stage:
    id: int
    start: float | None
    end: float | None
    tasks: int
    counters: dict[str, float]


@dataclass
class SqlExecution:
    id: int
    start: float
    exchanges: int = 0
    python: dict[str, float] = field(default_factory=dict)


@dataclass
class Window:
    """Engine work whose jobs were submitted inside [start, end)."""

    start: float
    end: float
    jobs: list[Job]
    stages: list[Stage]
    sql: list[SqlExecution]

    @property
    def wall_s(self) -> float:
        return self.end - self.start

    def job_union_s(self) -> float:
        return union_length([(j.start, j.end) for j in self.jobs],
                            self.start, self.end)

    @property
    def driver_self_s(self) -> float:
        """Wall time with no Spark job running: Python, Py4J, planning,
        driver-side collects between jobs."""
        return self.wall_s - self.job_union_s()

    @property
    def tasks(self) -> int:
        return sum(s.tasks for s in self.stages)

    def counter(self, name: str) -> float:
        return sum(s.counters[name] for s in self.stages)

    @property
    def exchanges(self) -> int:
        """Exchange nodes in the window's last (final) executed plan."""
        return self.sql[-1].exchanges if self.sql else 0

    def python(self, name: str) -> float:
        return sum(x.python.get(name, 0.0) for x in self.sql)


@dataclass
class Snapshot:
    jobs: list[Job]
    stages: dict[int, Stage]
    sql: list[SqlExecution]

    def window(self, start: float, end: float) -> Window:
        jobs = [j for j in self.jobs if start <= j.start < end]
        ids = {i for j in jobs for i in j.stage_ids}
        return Window(start, end, jobs,
                      [s for i, s in sorted(self.stages.items()) if i in ids],
                      [x for x in self.sql if start <= x.start < end])


def _seq(s) -> list:
    return [s.apply(i) for i in range(s.size())]


def _sec(opt_date) -> float | None:
    return opt_date.get().getTime() / 1000.0 if opt_date.isDefined() else None


_NUM = re.compile(r"([0-9][0-9,]*\.?[0-9]*)\s*([A-Za-z]*)")
_UNITS = {"": 1.0, "B": 1.0, "KiB": 1024.0, "MiB": 1024.0 ** 2,
          "GiB": 1024.0 ** 3, "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}


def parse_metric(text: str) -> float:
    """Total of a formatted SQL metric ("1,234", "3.2 MiB", "850 ms",
    or the multi-line "total (min, med, max ...)" form)."""
    lines = text.strip().splitlines()
    line = lines[1] if len(lines) > 1 and lines[0].startswith("total") else lines[0]
    m = _NUM.match(line.strip())
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2), 1.0)


def _is_python_node(name: str) -> bool:
    return ("InPandas" in name or "InArrow" in name
            or name.startswith(("ArrowEvalPython", "BatchEvalPython")))


class StatusReader:
    """Reads one session's status store."""

    def __init__(self, spark) -> None:
        self.spark = spark
        self._sc = spark.sparkContext._jsc.sc()
        self._jvm = spark.sparkContext._jvm
        self._gw = spark.sparkContext._gateway

    def snapshot(self, start: float, end: float) -> Snapshot:
        """Everything submitted in [start, end), with each SQL
        execution's final plan graph (Exchange count, Python node
        metrics)."""
        store = self._sc.statusStore()
        jobs = []
        for j in _seq(store.jobsList(None)):
            sub = _sec(j.submissionTime())
            if sub is None or not (start <= sub < end):
                continue
            jobs.append(Job(j.jobId(), sub, _sec(j.completionTime()) or end,
                            list(_seq(j.stageIds()))))
        wanted = {i for j in jobs for i in j.stage_ids}
        stages: dict[int, Stage] = {}
        quantiles = self._gw.new_array(self._jvm.double, 0)
        for st in _seq(store.stageList(None, False, False, quantiles, None)):
            sid = st.stageId()
            if sid not in wanted or str(st.status()) == "SKIPPED":
                continue
            stages[sid] = Stage(
                sid, _sec(st.submissionTime()), _sec(st.completionTime()),
                st.numCompleteTasks() + st.numFailedTasks(),
                {
                    "executor_run_s": st.executorRunTime() / 1e3,
                    "executor_cpu_s": st.executorCpuTime() / 1e9,
                    "gc_s": st.jvmGcTime() / 1e3,
                    "shuffle_read_bytes": float(
                        st.shuffleRemoteBytesRead()
                        + st.shuffleLocalBytesRead()),
                    "shuffle_write_bytes": float(st.shuffleWriteBytes()),
                    "spill_bytes": float(
                        st.memoryBytesSpilled() + st.diskBytesSpilled()),
                    "input_bytes": float(st.inputBytes()),
                },
            )
        sql_store = self.spark._jsparkSession.sharedState().statusStore()
        sql = []
        for ex in _seq(sql_store.executionsList()):
            sub = ex.submissionTime() / 1000.0
            if not (start <= sub < end):
                continue
            x = SqlExecution(ex.executionId(), sub)
            self._read_plan(sql_store, x)
            sql.append(x)
        sql.sort(key=lambda x: x.id)
        return Snapshot(jobs, stages, sql)

    def _read_plan(self, sql_store, x: SqlExecution) -> None:
        nodes = _seq(sql_store.planGraph(x.id).allNodes())
        names = [n.name() for n in nodes]
        x.exchanges = sum(1 for n in names if n.endswith("Exchange"))
        py = [n for n, name in zip(nodes, names) if _is_python_node(name)]
        if not py:
            return
        values = sql_store.executionMetrics(x.id)
        for node in py:
            for m in _seq(node.metrics()):
                text = values.get(m.accumulatorId())  # Scala Option
                if text.isDefined():
                    x.python[m.name()] = (x.python.get(m.name(), 0.0)
                                          + parse_metric(text.get()))

    def storage_bytes(self) -> int:
        """Bytes of cached blocks held now (memory plus disk)."""
        return sum(i.memSize() + i.diskSize()
                   for i in self._sc.getRDDStorageInfo())
