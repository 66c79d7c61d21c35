"""Read Spark's JSON event log and attribute its work to timing spans.

Only Spark's own records are used: job start/end, task end (executor run
time, input/shuffle/output bytes and the Python-runner SQL metrics), and
SQL execution start/end plus driver-side metric updates (files read).
Write with ``spark.eventLog.compress=false``; Spark 4 writes a rolling
``eventlog_v2_<app>/events_<n>_<app>`` directory, and a plain file works
too.

Jobs belong to the span during which they were submitted (not to a job
group: ``foreachBatch`` jobs run on the stream thread under the stream's
own group). SQL executions belong to the span during which they started.
"""

from __future__ import annotations

import bisect
import glob
import json
import os
import re
from dataclasses import dataclass, field

SQL_START = "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart"
SQL_END = "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd"
SQL_ADAPTIVE = (
    "org.apache.spark.sql.execution.ui.SparkListenerSQLAdaptiveExecutionUpdate"
)
SQL_DRIVER_ACCUMS = (
    "org.apache.spark.sql.execution.ui.SparkListenerDriverAccumUpdates"
)
# the write command's options in the plan text: "[..., path=/idx/docs]"
_WRITE_RE = re.compile(r"InsertIntoHadoopFsRelationCommand.*?\bpath=([^,\]]+)",
                       re.DOTALL)


@dataclass
class Job:
    id: int
    submit_ms: int
    end_ms: int = 0
    stage_ids: list[int] = field(default_factory=list)
    execution_id: int | None = None


@dataclass
class Task:
    stage_id: int
    run_ms: int
    input_bytes: int
    shuffle_write_bytes: int
    output_bytes: int
    python_run_ms: int
    bytes_to_python: int


@dataclass
class Execution:
    id: int
    start_ms: int
    end_ms: int = 0
    write_path: str | None = None
    metric_names: dict[int, str] = field(default_factory=dict)
    driver_metrics: dict[str, int] = field(default_factory=dict)

    @property
    def duration_ms(self) -> int:
        return max(0, self.end_ms - self.start_ms)


def _plan_metrics(node: dict, out: dict[int, str]) -> None:
    for m in node.get("metrics", []):
        out[int(m["accumulatorId"])] = m["name"]
    for child in node.get("children", []):
        _plan_metrics(child, out)


def _accum(task_info: dict, name: str) -> int:
    total = 0
    for a in task_info.get("Accumulables", []):
        if a.get("Name") == name:
            total += int(a.get("Update") or 0)
    return total


def log_files(path: str) -> list[str]:
    """Event-log files under ``path`` in write order."""
    if os.path.isfile(path):
        return [path]
    files = glob.glob(os.path.join(path, "**", "events_*"), recursive=True)

    def order(f: str) -> tuple:
        m = re.match(r"events_(\d+)_", os.path.basename(f))
        return (os.path.dirname(f), int(m.group(1)) if m else 0)

    return sorted(files, key=order)


class EventLog:
    """Jobs, tasks and SQL executions of one application."""

    def __init__(self) -> None:
        self.jobs: dict[int, Job] = {}
        self.tasks: list[Task] = []
        self.executions: dict[int, Execution] = {}
        self._stage_job: dict[int, int] = {}

    @classmethod
    def read(cls, path: str) -> "EventLog":
        log = cls()
        for f in log_files(path):
            with open(f) as fh:
                for line in fh:
                    line = line.strip()
                    if line:
                        log._add(json.loads(line))
        log._index()
        return log

    def _add(self, e: dict) -> None:
        kind = e.get("Event")
        if kind == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            eid = props.get("spark.sql.execution.id")
            job = Job(
                id=e["Job ID"], submit_ms=e["Submission Time"],
                stage_ids=list(e.get("Stage IDs", [])),
                execution_id=int(eid) if eid is not None else None,
            )
            self.jobs[job.id] = job
            for s in job.stage_ids:
                self._stage_job.setdefault(s, job.id)
        elif kind == "SparkListenerJobEnd":
            job = self.jobs.get(e["Job ID"])
            if job is not None:
                job.end_ms = e["Completion Time"]
        elif kind == "SparkListenerTaskEnd":
            m = e.get("Task Metrics") or {}
            info = e.get("Task Info") or {}
            self.tasks.append(Task(
                stage_id=e["Stage ID"],
                run_ms=int(m.get("Executor Run Time", 0)),
                input_bytes=int(
                    (m.get("Input Metrics") or {}).get("Bytes Read", 0)),
                shuffle_write_bytes=int(
                    (m.get("Shuffle Write Metrics") or {})
                    .get("Shuffle Bytes Written", 0)),
                output_bytes=int(
                    (m.get("Output Metrics") or {}).get("Bytes Written", 0)),
                python_run_ms=_accum(info, "time to run Python workers"),
                bytes_to_python=_accum(info, "data sent to Python workers"),
            ))
        elif kind == SQL_START:
            ex = Execution(id=e["executionId"], start_ms=e["time"])
            m = _WRITE_RE.search(e.get("physicalPlanDescription", ""))
            if m:
                ex.write_path = m.group(1).rstrip("/")
            _plan_metrics(e.get("sparkPlanInfo") or {}, ex.metric_names)
            self.executions[ex.id] = ex
        elif kind == SQL_ADAPTIVE:
            ex = self.executions.get(e["executionId"])
            if ex is not None:
                _plan_metrics(e.get("sparkPlanInfo") or {}, ex.metric_names)
        elif kind == SQL_DRIVER_ACCUMS:
            ex = self.executions.get(e["executionId"])
            if ex is not None:
                for acc_id, value in e.get("accumUpdates", []):
                    name = ex.metric_names.get(int(acc_id))
                    if name:
                        ex.driver_metrics[name] = (
                            ex.driver_metrics.get(name, 0) + int(value))
        elif kind == SQL_END:
            ex = self.executions.get(e["executionId"])
            if ex is not None:
                ex.end_ms = e["time"]

    def _index(self) -> None:
        self._jobs_by_submit = sorted(
            self.jobs.values(), key=lambda j: j.submit_ms)
        self._submits = [j.submit_ms for j in self._jobs_by_submit]
        self._tasks_by_job: dict[int, list[Task]] = {}
        for t in self.tasks:
            jid = self._stage_job.get(t.stage_id)
            if jid is not None:
                self._tasks_by_job.setdefault(jid, []).append(t)

    def jobs_in(self, start_ms: float, end_ms: float) -> list[Job]:
        """Jobs submitted in [start_ms, end_ms]."""
        lo = bisect.bisect_left(self._submits, start_ms)
        hi = bisect.bisect_right(self._submits, end_ms)
        return self._jobs_by_submit[lo:hi]

    def tasks_of(self, jobs: list[Job]) -> list[Task]:
        return [t for j in jobs for t in self._tasks_by_job.get(j.id, [])]

    def executions_in(self, start_ms: float, end_ms: float) -> list[Execution]:
        """SQL executions started in [start_ms, end_ms]."""
        return [
            x for x in self.executions.values()
            if start_ms <= x.start_ms <= end_ms
        ]

    def stage_tasks(self, jobs: list[Job]) -> dict[int, list[Task]]:
        out: dict[int, list[Task]] = {}
        for t in self.tasks_of(jobs):
            out.setdefault(t.stage_id, []).append(t)
        return out


def union_ms(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of intervals, clipped to [lo, hi]."""
    total = 0.0
    cur_s = cur_e = None
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
