"""Streaming reader of a Spark event log, and the per-operation phase
split it makes possible.

The log is read one line at a time and only the events needed here are
decoded: job start/end (with the job group the benchmark set), task end
(metrics) and SQL execution start/update (physical plan size).  A long
pipeline pass can write hundreds of MB of plan text, so nothing is held
but these counters.
"""

from __future__ import annotations

import json
from dataclasses import dataclass, field

_JOB_START = '{"Event":"SparkListenerJobStart"'
_JOB_END = '{"Event":"SparkListenerJobEnd"'
_TASK_END = '{"Event":"SparkListenerTaskEnd"'
_SQL_PLAN = ('{"Event":"org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart"',
             '{"Event":"org.apache.spark.sql.execution.ui.SparkListenerSQLAdaptiveExecutionUpdate"')


@dataclass
class Job:
    group: str
    start: float
    end: float = 0.0
    tasks: int = 0
    run_s: float = 0.0
    cpu_s: float = 0.0
    gc_s: float = 0.0
    shuffle_write_b: int = 0
    spill_b: int = 0


@dataclass
class EventLog:
    jobs: dict[int, Job] = field(default_factory=dict)
    max_plan_chars: int = 0


def read(path: str) -> EventLog:
    log = EventLog()
    stage_job: dict[int, int] = {}
    with open(path, encoding="utf-8") as fh:
        for line in fh:
            if line.startswith(_TASK_END):
                ev = json.loads(line)
                job = log.jobs.get(stage_job.get(ev["Stage ID"], -1))
                m = ev.get("Task Metrics")
                if job is None or not m:
                    continue
                job.tasks += 1
                job.run_s += m["Executor Run Time"] / 1e3
                job.cpu_s += m["Executor CPU Time"] / 1e9
                job.gc_s += m["JVM GC Time"] / 1e3
                job.shuffle_write_b += m["Shuffle Write Metrics"]["Shuffle Bytes Written"]
                job.spill_b += m["Memory Bytes Spilled"] + m["Disk Bytes Spilled"]
            elif line.startswith(_JOB_START):
                ev = json.loads(line)
                props = ev.get("Properties") or {}
                log.jobs[ev["Job ID"]] = Job(
                    group=props.get("spark.jobGroup.id", ""),
                    start=ev["Submission Time"] / 1e3,
                )
                for sid in ev["Stage IDs"]:
                    stage_job[sid] = ev["Job ID"]
            elif line.startswith(_JOB_END):
                ev = json.loads(line)
                if ev["Job ID"] in log.jobs:
                    log.jobs[ev["Job ID"]].end = ev["Completion Time"] / 1e3
            elif line.startswith(_SQL_PLAN):
                plan = json.loads(line).get("physicalPlanDescription", "")
                log.max_plan_chars = max(log.max_plan_chars, len(plan))
    return log


def phases(t0: float, tb: float, t1: float, intervals: list[tuple[float, float]]) -> dict:
    """Split one operation's wall time [t0, t1] (build ending at tb)
    into build, plan (action call to first job), job (union of job
    intervals) and gap (time between and after jobs).  Jobs that start
    before ``tb`` are the constructor's eager jobs and belong to build."""
    action = sorted((max(s, tb), min(e, t1)) for s, e in intervals if e > tb and s < t1)
    job = gap = 0.0
    first = cur_s = cur_e = None
    for s, e in action:
        if first is None:
            first, cur_s, cur_e = s, s, e
        elif s > cur_e:
            job += cur_e - cur_s
            gap += s - cur_e
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if first is None:
        return {"build_s": tb - t0, "plan_s": t1 - tb, "job_s": 0.0, "gap_s": 0.0}
    job += cur_e - cur_s
    gap += t1 - cur_e
    return {"build_s": tb - t0, "plan_s": first - tb, "job_s": job, "gap_s": gap}
