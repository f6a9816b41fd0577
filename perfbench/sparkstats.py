"""Read the metrics Spark already keeps, for jobs the benchmark labelled.

Every number here comes from the Spark driver's in-process status stores
(no UI, no REST server):

- the core ``AppStatusStore``: per-stage task totals (executor CPU,
  GC, input, shuffle, spill) and per-stage task-duration
  quantiles;
- the SQL status store: per-operator plan metrics of each SQL
  execution, which is the only place Python-worker traffic is counted
  (``data sent to / returned from Python workers``) and where a scan
  of a derived table can be told apart from a base-table scan;
- the block manager: storage still held by cached / checkpointed RDDs.

Jobs are found by job group. The benchmark sets the group to
``workload:item:phase`` around each phase it times; streaming queries
run under their own ``runId`` group, which the caller maps back.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field

MB = 1024 * 1024

# Plan-operator names that run Python workers (Arrow or pickled).
_PY_NODES = ("InPandas", "InArrow", "EvalPython", "PythonUDTF")
_SIZE_UNITS = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40}


@dataclass
class StageTotals:
    """Sums over a set of stages (each stage counted once)."""

    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    exec_cpu_s: float = 0.0
    gc_s: float = 0.0
    input_mb: float = 0.0
    shuffle_read_mb: float = 0.0
    shuffle_write_mb: float = 0.0
    spill_mb: float = 0.0
    task_max_s: float = 0.0  # sum over multi-task stages of the slowest task
    task_med_s: float = 0.0  # sum over multi-task stages of the median task
    stage_ids: set[int] = field(default_factory=set)


@dataclass
class PlanTotals:
    """Sums of SQL plan metrics over a set of executions."""

    py_mb_sent: float = 0.0
    py_mb_received: float = 0.0
    py_rows: int = 0
    derived_scan_mb: float = 0.0


class SparkStats:
    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self.tracker = self.sc.statusTracker()
        self.store = self.sc._jsc.sc().statusStore()
        self.sql = spark._jsparkSession.sharedState().statusStore()
        jvm = self.sc._jvm
        self._quantiles = self.sc._gateway.new_array(jvm.double, 2)
        self._quantiles[0] = 0.5
        self._quantiles[1] = 1.0

    def jobs_for(self, groups) -> list[int]:
        out: set[int] = set()
        for g in groups:
            out.update(self.tracker.getJobIdsForGroup(g))
        return sorted(out)

    def all_job_ids(self) -> list[int]:
        jobs = self.store.jobsList(None)
        return [int(jobs.apply(i).jobId()) for i in range(jobs.size())]

    def stage_totals(self, job_ids, skew: bool = False) -> StageTotals:
        """Stage totals over ``job_ids``. Stages a job skipped (shuffle
        output reused) have no attempt and are not counted."""
        t = StageTotals(jobs=len(job_ids))
        for j in job_ids:
            info = self.tracker.getJobInfo(j)
            if info is not None:
                t.stage_ids.update(info.stageIds)
        for sid in sorted(t.stage_ids):
            try:
                sd = self.store.lastStageAttempt(sid)
            except Exception:  # py4j wraps NoSuchElementException: never ran
                continue
            if str(sd.status()) == "SKIPPED":
                continue
            t.stages += 1
            n = int(sd.numTasks())
            t.tasks += n
            t.exec_cpu_s += sd.executorCpuTime() / 1e9
            t.gc_s += sd.jvmGcTime() / 1e3
            t.input_mb += sd.inputBytes() / MB
            t.shuffle_read_mb += sd.shuffleReadBytes() / MB
            t.shuffle_write_mb += sd.shuffleWriteBytes() / MB
            t.spill_mb += (sd.memoryBytesSpilled() + sd.diskBytesSpilled()) / MB
            if skew and n > 1:
                summary = self.store.taskSummary(
                    sid, sd.attemptId(), self._quantiles
                )
                if summary.isDefined():
                    dur = summary.get().duration()
                    t.task_med_s += dur.apply(0) / 1e3
                    t.task_max_s += dur.apply(1) / 1e3
        return t

    def plan_totals(self, job_ids) -> PlanTotals:
        """Python-worker and derived-scan plan metrics of every SQL
        execution that ran any of ``job_ids``."""
        want = set(job_ids)
        t = PlanTotals()
        execs = self.sql.executionsList()
        for i in range(execs.size()):
            e = execs.apply(i)
            jobs = e.jobs().keySet()
            it = jobs.iterator()
            hit = False
            while it.hasNext():
                if int(it.next()) in want:
                    hit = True
                    break
            if not hit:
                continue
            values = self.sql.executionMetrics(e.executionId())
            nodes = self.sql.planGraph(e.executionId()).allNodes()
            for k in range(nodes.size()):
                node = nodes.apply(k)
                name = node.name()
                is_py = any(p in name for p in _PY_NODES)
                is_derived = name.startswith("Scan") and "mcs_" in name
                if not (is_py or is_derived):
                    continue
                ms = node.metrics()
                for m in range(ms.size()):
                    metric = ms.apply(m)
                    v = values.get(metric.accumulatorId())
                    if not v.isDefined():
                        continue
                    label, raw = metric.name(), v.get()
                    if is_py and label == "data sent to Python workers":
                        t.py_mb_sent += parse_size(raw) / MB
                    elif is_py and label == "data returned from Python workers":
                        t.py_mb_received += parse_size(raw) / MB
                    elif is_py and label == "number of output rows":
                        t.py_rows += parse_count(raw)
                    elif is_derived and label == "size of files read":
                        t.derived_scan_mb += parse_size(raw) / MB
        return t

    def held_storage(self) -> tuple[float, int]:
        """(MB held in memory + disk, cached blocks) over every RDD the
        block manager still stores (persisted or checkpointed)."""
        mb, blocks = 0.0, 0
        for info in self.sc._jsc.sc().getRDDStorageInfo():
            mb += (info.memSize() + info.diskSize()) / MB
            blocks += int(info.numCachedPartitions())
        return mb, blocks


def _last_line(raw: str) -> str:
    # multi-task metrics read "total (min, med, max ...)\n<total> (<...>)"
    return raw.strip().split("\n")[-1]


def parse_size(raw: str) -> float:
    m = re.match(r"\s*([\d.,]+)\s*([KMGT]?i?B)", _last_line(raw))
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _SIZE_UNITS.get(m.group(2), 1)


def parse_count(raw: str) -> int:
    m = re.match(r"\s*([\d,]+)", _last_line(raw))
    return int(m.group(1).replace(",", "")) if m else 0
