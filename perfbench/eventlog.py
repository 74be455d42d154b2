"""Reader for Spark's JSON event log (``spark.eventLog.compress=false``).

Reads a finished log after the run, so it adds no job to the program.
Gives, per stage: wall time, executor run and CPU time, shuffle read and
write, spill, and max/median task duration; per job: stages and the job
description; per SQL execution: wall time, which physical operators its
final plan holds (MapInArrow, BroadcastExchange, Exchange, ...) and the
final values of its SQL metrics.
"""

from __future__ import annotations

import json
import os
import statistics
from dataclasses import dataclass, field

_SQL = "org.apache.spark.sql.execution.ui."
MB = 1024 * 1024


@dataclass
class Stage:
    id: int
    job: int | None = None
    tasks: int = 0
    submitted: float = 0.0
    completed: float = 0.0
    run_s: float = 0.0
    cpu_s: float = 0.0
    shuffle_read_mb: float = 0.0
    shuffle_write_mb: float = 0.0
    spill_mb: float = 0.0
    task_s: list = field(default_factory=list)
    accumulables: dict = field(default_factory=dict)

    @property
    def wall_s(self) -> float:
        return max(0.0, self.completed - self.submitted)

    @property
    def task_skew(self) -> float:
        """Slowest task over the median task."""
        if not self.task_s:
            return 1.0
        med = statistics.median(self.task_s)
        return max(self.task_s) / med if med > 0 else 1.0


@dataclass
class Job:
    id: int
    description: str | None
    execution: int | None
    submitted: float
    completed: float = 0.0
    stages: list = field(default_factory=list)


@dataclass
class Execution:
    id: int
    description: str
    start: float
    end: float = 0.0
    plan: dict | None = None

    @property
    def wall_s(self) -> float:
        return max(0.0, self.end - self.start)

    def nodes(self) -> list[dict]:
        out, todo = [], [self.plan] if self.plan else []
        while todo:
            n = todo.pop()
            out.append(n)
            todo += n.get("children", [])
        return out

    def count(self, node_name: str) -> int:
        return sum(n["nodeName"] == node_name for n in self.nodes())

    def has(self, node_name: str) -> bool:
        return self.count(node_name) > 0

    def metric_ids(self, node_name: str, metric: str) -> list[int]:
        return [m["accumulatorId"] for n in self.nodes()
                if n["nodeName"] == node_name
                for m in n.get("metrics", []) if m["name"] == metric]


@dataclass
class EventLog:
    app_start: float = 0.0
    app_end: float = 0.0
    stages: dict = field(default_factory=dict)
    jobs: dict = field(default_factory=dict)
    executions: dict = field(default_factory=dict)

    def stages_of(self, jobs) -> list[Stage]:
        ids = {j.id for j in jobs}
        return [s for s in self.stages.values() if s.job in ids]

    def jobs_described(self, description: str) -> list[Job]:
        return [j for j in self.jobs.values() if j.description == description]

    def metric_total(self, ids) -> float:
        """Final value of SQL metric accumulators, summed over stages."""
        ids = set(ids)
        return sum(float(v) for s in self.stages.values()
                   for k, v in s.accumulables.items() if k in ids)


def _s(ms) -> float:
    return ms / 1000.0


def read(path: str) -> EventLog:
    log = EventLog()
    with open(path, encoding="utf-8") as f:
        for line in f:
            e = json.loads(line)
            kind = e["Event"]
            if kind == "SparkListenerApplicationStart":
                log.app_start = _s(e["Timestamp"])
            elif kind == "SparkListenerApplicationEnd":
                log.app_end = _s(e["Timestamp"])
            elif kind == "SparkListenerJobStart":
                props = e.get("Properties") or {}
                ex = props.get("spark.sql.execution.id")
                job = Job(e["Job ID"], props.get("spark.job.description"),
                          int(ex) if ex is not None else None,
                          _s(e["Submission Time"]), stages=e["Stage IDs"])
                log.jobs[job.id] = job
                for sid in job.stages:
                    log.stages.setdefault(sid, Stage(sid)).job = job.id
            elif kind == "SparkListenerJobEnd":
                log.jobs[e["Job ID"]].completed = _s(e["Completion Time"])
            elif kind == "SparkListenerTaskEnd":
                st = log.stages.setdefault(e["Stage ID"], Stage(e["Stage ID"]))
                ti, tm = e["Task Info"], e.get("Task Metrics") or {}
                st.task_s.append(_s(ti["Finish Time"] - ti["Launch Time"]))
                st.run_s += _s(tm.get("Executor Run Time", 0))
                st.cpu_s += tm.get("Executor CPU Time", 0) / 1e9
                st.spill_mb += (tm.get("Memory Bytes Spilled", 0)
                                + tm.get("Disk Bytes Spilled", 0)) / MB
                sr = tm.get("Shuffle Read Metrics") or {}
                st.shuffle_read_mb += (sr.get("Remote Bytes Read", 0)
                                       + sr.get("Local Bytes Read", 0)) / MB
                sw = tm.get("Shuffle Write Metrics") or {}
                st.shuffle_write_mb += sw.get("Shuffle Bytes Written", 0) / MB
            elif kind == "SparkListenerStageCompleted":
                info = e["Stage Info"]
                st = log.stages.setdefault(info["Stage ID"],
                                           Stage(info["Stage ID"]))
                st.tasks = info["Number of Tasks"]
                st.submitted = _s(info.get("Submission Time", 0))
                st.completed = _s(info.get("Completion Time", 0))
                for a in info.get("Accumulables", []):
                    st.accumulables[a["ID"]] = a.get("Value", 0)
            elif kind == _SQL + "SparkListenerSQLExecutionStart":
                log.executions[e["executionId"]] = Execution(
                    e["executionId"], e.get("description", ""),
                    _s(e["time"]), plan=e.get("sparkPlanInfo"))
            elif kind == _SQL + "SparkListenerSQLAdaptiveExecutionUpdate":
                # AQE re-plans while running; the last update is final
                log.executions[e["executionId"]].plan = e["sparkPlanInfo"]
            elif kind == _SQL + "SparkListenerSQLExecutionEnd":
                log.executions[e["executionId"]].end = _s(e["time"])
    return log


def logs_in(directory: str) -> list[str]:
    """Finished (not ``.inprogress``) event logs, oldest first."""
    if not os.path.isdir(directory):
        return []
    paths = [os.path.join(directory, f) for f in os.listdir(directory)
             if not f.endswith(".inprogress")]
    return sorted(paths, key=os.path.getmtime)
