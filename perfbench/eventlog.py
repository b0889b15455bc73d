"""Parse a Spark event log (one JSON event per line) into job, stage,
task and SQL-execution records, and aggregate them per job group.

Jobs carry the ``spark.jobGroup.id`` that the tracer sets for each
span; a stage belongs to the first job that lists it; a task belongs
to its stage. SQL executions carry their group directly, along with
the physical plan text and the number of files their writes created.
"""

from __future__ import annotations

import json
from dataclasses import dataclass, field

MB = 1024 * 1024


@dataclass
class EventLog:
    jobs: dict = field(default_factory=dict)  # job id -> {group, submit}
    stage_job: dict = field(default_factory=dict)  # stage id -> job id
    tasks: list = field(default_factory=list)
    sql: dict = field(default_factory=dict)  # execution id -> {group, plan, files}


def _walk_plan(node: dict, out: dict) -> None:
    for m in node.get("metrics", []):
        out[m["accumulatorId"]] = m["name"]
    for child in node.get("children", []):
        _walk_plan(child, out)


def parse(lines) -> EventLog:
    log = EventLog()
    accum: dict[int, tuple[int, str]] = {}  # accumulator id -> (execution, name)
    for line in lines:
        line = line.strip()
        if not line:
            continue
        e = json.loads(line)
        ev = e["Event"]
        if ev == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            log.jobs[e["Job ID"]] = {
                "group": props.get("spark.jobGroup.id"),
                "submit": e["Submission Time"] / 1000.0,
            }
            for sid in e["Stage IDs"]:
                log.stage_job.setdefault(sid, e["Job ID"])
        elif ev == "SparkListenerTaskEnd":
            info, m = e["Task Info"], e.get("Task Metrics") or {}
            sw = m.get("Shuffle Write Metrics") or {}
            out = m.get("Output Metrics") or {}
            log.tasks.append({
                "stage": e["Stage ID"],
                "launch": info["Launch Time"] / 1000.0,
                "finish": info["Finish Time"] / 1000.0,
                "run_s": m.get("Executor Run Time", 0) / 1000.0,
                "gc_s": m.get("JVM GC Time", 0) / 1000.0,
                "shuffle_write": sw.get("Shuffle Bytes Written", 0),
                "spill": m.get("Disk Bytes Spilled", 0),
                "out_bytes": out.get("Bytes Written", 0),
            })
        elif ev.endswith("SparkListenerSQLExecutionStart"):
            xid = e["executionId"]
            names: dict[int, str] = {}
            _walk_plan(e.get("sparkPlanInfo") or {}, names)
            for aid, name in names.items():
                accum[aid] = (xid, name)
            log.sql[xid] = {
                "group": e.get("jobGroupId"),
                "plan": e.get("physicalPlanDescription") or "",
                "files": 0,
            }
        elif ev.endswith("SparkListenerSQLAdaptiveExecutionUpdate"):
            # adaptive re-planning reports the final plan's metrics under new ids
            names = {}
            _walk_plan(e.get("sparkPlanInfo") or {}, names)
            for aid, name in names.items():
                accum[aid] = (e["executionId"], name)
        elif ev.endswith("SparkListenerSQLAdaptiveSQLMetricUpdates"):
            for m in e.get("sqlPlanMetrics", []):
                accum[m["accumulatorId"]] = (e["executionId"], m["name"])
        elif ev.endswith("SparkListenerDriverAccumUpdates"):
            for aid, value in e.get("accumUpdates", []):
                xid, name = accum.get(aid, (None, None))
                if xid in log.sql and name == "number of written files":
                    log.sql[xid]["files"] += int(value)
    return log


def read(path: str) -> EventLog:
    with open(path, encoding="utf-8") as f:
        return parse(f)


def task_group(log: EventLog, task: dict) -> str | None:
    job = log.stage_job.get(task["stage"])
    return log.jobs[job]["group"] if job is not None else None


def aggregate(log: EventLog, groups: set[str]) -> dict:
    """Work done under the given job groups: jobs, executed stages,
    tasks, task seconds, GC seconds, shuffle and spill megabytes,
    bytes written by tasks, files written by SQL writes."""
    jobs = [j for j in log.jobs.values() if j["group"] in groups]
    tasks = [t for t in log.tasks if task_group(log, t) in groups]
    sql = [x for x in log.sql.values() if x["group"] in groups]
    return {
        "jobs": len(jobs),
        "stages": len({t["stage"] for t in tasks}),
        "tasks": len(tasks),
        "task_s": sum(t["run_s"] for t in tasks),
        "gc_s": sum(t["gc_s"] for t in tasks),
        "shuffle_mb": sum(t["shuffle_write"] for t in tasks) / MB,
        "spill_mb": sum(t["spill"] for t in tasks) / MB,
        "out_bytes": sum(t["out_bytes"] for t in tasks),
        "files_written": sum(x["files"] for x in sql),
        "sql_plans": [x["plan"] for x in sql],
    }


def window(log: EventLog, t0: float, t1: float, cores: int) -> dict:
    """Engine-wide figures for the wall-clock window [t0, t1]: jobs
    submitted, stages and tasks run, GC seconds, the time no task was
    running (driver-only time) and core utilisation."""
    tasks = [t for t in log.tasks if t0 <= t["launch"] and t["finish"] <= t1]
    jobs = [j for j in log.jobs.values() if t0 <= j["submit"] <= t1]
    busy, cur_s, cur_e = 0.0, None, None
    for t in sorted(tasks, key=lambda t: t["launch"]):
        if cur_e is None or t["launch"] > cur_e:
            if cur_e is not None:
                busy += cur_e - cur_s
            cur_s, cur_e = t["launch"], t["finish"]
        else:
            cur_e = max(cur_e, t["finish"])
    if cur_e is not None:
        busy += cur_e - cur_s
    wall = max(t1 - t0, 1e-9)
    return {
        "jobs": len(jobs),
        "stages": len({t["stage"] for t in tasks}),
        "tasks": len(tasks),
        "gc_s": sum(t["gc_s"] for t in tasks),
        "driver_only_s": wall - busy,
        "core_util": sum(t["run_s"] for t in tasks) / (cores * wall),
    }
