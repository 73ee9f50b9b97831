"""Reader for Spark's uncompressed JSON event log.

Spark writes one JSON object per line. This module keeps the records the
benchmark's per-layer metrics need: job starts (with the job group, SQL
execution id and streaming batch id from the job properties), per-task
metrics from `SparkListenerTaskEnd`, and the latest physical plan of each
SQL execution, which AQE replaces with `SQLAdaptiveExecutionUpdate`.
"""

from __future__ import annotations

import json
import os
import statistics
from dataclasses import dataclass, field

SQL_START = "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart"
SQL_AQE = "org.apache.spark.sql.execution.ui.SparkListenerSQLAdaptiveExecutionUpdate"

PYTHON_NODES = ("BatchEvalPython", "ArrowEvalPython", "MapInPandas", "MapInArrow",
                "FlatMapGroupsInPandas", "FlatMapCoGroupsInPandas",
                "AggregateInPandas", "WindowInPandas", "PythonMapInArrow")


@dataclass
class Job:
    group: str | None
    execution: int | None
    batch: int | None
    submit_ms: int
    stages: list[int]


@dataclass
class EventLog:
    jobs: dict[int, Job] = field(default_factory=dict)
    tasks: dict[int, list[dict]] = field(default_factory=dict)  # stage -> task metrics
    plans: dict[int, dict] = field(default_factory=dict)  # execution -> plan info


def find_log(log_dir: str) -> list[str]:
    """The files of the single application log Spark wrote into `log_dir`:
    one file, or with rolling logs (the Spark 4 default) the
    `eventlog_v2_*` directory's `events_<n>_*` parts in order."""
    names = [n for n in os.listdir(log_dir) if not n.startswith(".")]
    if len(names) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, found {names}")
    path = os.path.join(log_dir, names[0])
    if not os.path.isdir(path):
        return [path]
    parts = [n for n in os.listdir(path) if n.startswith("events_")]
    return [os.path.join(path, n) for n in sorted(parts, key=lambda n: int(n.split("_")[1]))]


def _int(v):
    return None if v is None else int(v)


def _lines(paths: list[str]):
    for path in paths:
        with open(path) as f:
            yield from f


def read(paths: list[str]) -> EventLog:
    log = EventLog()
    for line in _lines(paths):
        ev = json.loads(line)
        kind = ev["Event"]
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            log.jobs[ev["Job ID"]] = Job(
                props.get("spark.jobGroup.id"),
                _int(props.get("spark.sql.execution.id")),
                _int(props.get("streaming.sql.batchId")),
                ev["Submission Time"], ev["Stage IDs"])
        elif kind == "SparkListenerTaskEnd" and ev.get("Task Metrics"):
            m = ev["Task Metrics"]
            rd, wr = m["Shuffle Read Metrics"], m["Shuffle Write Metrics"]
            log.tasks.setdefault(ev["Stage ID"], []).append({
                "run_ms": m["Executor Run Time"],
                "cpu_ns": m["Executor CPU Time"],
                "gc_ms": m["JVM GC Time"],
                "read": rd["Remote Bytes Read"] + rd["Local Bytes Read"],
                "write": wr["Shuffle Bytes Written"],
                "spill": m["Memory Bytes Spilled"] + m["Disk Bytes Spilled"],
            })
        elif kind in (SQL_START, SQL_AQE):
            log.plans[ev["executionId"]] = ev["sparkPlanInfo"]
    return log


def jobs_where(log: EventLog, pred) -> list[int]:
    return [jid for jid, job in log.jobs.items() if pred(job)]


def exec_metrics(log: EventLog, job_ids: list[int]) -> dict[str, float]:
    """Task totals over the stages the given jobs ran. A stage shared by
    two jobs is counted once; skipped stages have no tasks."""
    stages = sorted({s for j in job_ids for s in log.jobs[j].stages if s in log.tasks})
    tasks = [t for s in stages for t in log.tasks[s]]
    skew = 1.0
    for s in stages:
        runs = [t["run_ms"] for t in log.tasks[s]]
        if len(runs) > 1 and statistics.median(runs) > 0:
            skew = max(skew, max(runs) / statistics.median(runs))
    return {
        "exec.jobs": len(job_ids),
        "exec.stages": len(stages),
        "exec.tasks": len(tasks),
        "exec.run_s": sum(t["run_ms"] for t in tasks) / 1e3,
        "exec.cpu_s": sum(t["cpu_ns"] for t in tasks) / 1e9,
        "exec.gc_s": sum(t["gc_ms"] for t in tasks) / 1e3,
        "exec.shuffle_read_bytes": sum(t["read"] for t in tasks),
        "exec.shuffle_write_bytes": sum(t["write"] for t in tasks),
        "exec.spill_bytes": sum(t["spill"] for t in tasks),
        "exec.task_skew": skew,
    }


def _nodes(info: dict):
    yield info["nodeName"]
    for child in info.get("children", []):
        yield from _nodes(child)


def plan_counts(log: EventLog, executions) -> dict[str, int]:
    """Node counts over the final physical plans of the given SQL executions."""
    names = [n for e in sorted(set(executions)) if e in log.plans
             for n in _nodes(log.plans[e])]
    return {
        "plan.exchanges": sum(n == "Exchange" for n in names),
        "plan.sort_merge_joins": sum(n == "SortMergeJoin" for n in names),
        "plan.broadcast_joins": sum(n in ("BroadcastHashJoin", "BroadcastNestedLoopJoin")
                                    for n in names),
        "plan.scans": sum(n.startswith("Scan ") for n in names),
        "plan.python_evals": sum(n in PYTHON_NODES for n in names),
    }
