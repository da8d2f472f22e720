"""Fold Spark's event log (uncompressed, non-rolling JSON lines) into
per-job counters.

Each job carries its job group (the span id set by ``spans.Recorder``,
or a streaming query's run id), its wall interval, the task metrics of
the stages it ran, and the driver-side SQL metrics (written files,
files and bytes each scan read) of its SQL execution.
"""

from __future__ import annotations

import json
import os
from collections import Counter
from dataclasses import dataclass, field

# task-level SQL accumulables -> counter name
_TASK_ACCUMS = {
    "time to run Python workers": "py_ms",
    "data sent to Python workers": "py_in_b",
    "data returned from Python workers": "py_out_b",
    "time in aggregation build": "agg_build_ms",
    "spill size": "spill_b",
}


@dataclass
class Job:
    id: int
    group: str | None
    execution: int | None
    start: float
    end: float | None = None
    counters: Counter = field(default_factory=Counter)


@dataclass
class Scan:
    location: str
    files: int = 0
    bytes: int = 0


@dataclass
class Execution:
    counters: Counter = field(default_factory=Counter)
    scans: dict[int, Scan] = field(default_factory=dict)  # by scan node


@dataclass
class EventLog:
    jobs: dict[int, Job]
    executions: dict[int, Execution]

    def executions_in(self, groups: set[str]) -> list[Execution]:
        """SQL executions of the jobs in ``groups``."""
        ids = {j.execution for j in self.jobs.values() if j.group in groups}
        ids.discard(None)
        return [self.executions[i] for i in sorted(ids) if i in self.executions]


def find_log(directory: str) -> str:
    """The single finished application log in ``directory``."""
    logs = [f for f in os.listdir(directory) if not f.endswith(".inprogress")]
    if len(logs) != 1:
        raise FileNotFoundError(f"expected one finished event log in {directory}, got {logs}")
    return os.path.join(directory, logs[0])


def fold(lines) -> EventLog:
    """Fold an iterable of event-log lines."""
    jobs: dict[int, Job] = {}
    stage_job: dict[int, int] = {}
    executions: dict[int, Execution] = {}
    # accumulator id -> (metric name, scan key or None, location); a
    # scan is keyed by its lowest accumulator id, which adaptive
    # re-plans keep
    accums: dict[int, tuple[str, int | None, str]] = {}

    def plan(node: dict) -> None:
        metrics = node.get("metrics", [])
        scan = None
        if node.get("nodeName", "").startswith("Scan") and metrics:
            scan = min(m["accumulatorId"] for m in metrics)
        location = (node.get("metadata") or {}).get("Location", "")
        for m in metrics:
            accums[m["accumulatorId"]] = (m["name"], scan, location)
        for child in node.get("children", []):
            plan(child)

    for line in lines:
        e = json.loads(line)
        kind = e["Event"].rsplit(".", 1)[-1]
        if kind == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            ex = props.get("spark.sql.execution.id")
            job = Job(
                id=e["Job ID"],
                group=props.get("spark.jobGroup.id"),
                execution=int(ex) if ex is not None else None,
                start=e["Submission Time"] / 1000.0,
            )
            jobs[job.id] = job
            for s in e.get("Stage IDs", []):
                stage_job.setdefault(s, job.id)
        elif kind == "SparkListenerJobEnd":
            if e["Job ID"] in jobs:
                jobs[e["Job ID"]].end = e["Completion Time"] / 1000.0
        elif kind == "SparkListenerTaskEnd":
            job = jobs.get(stage_job.get(e["Stage ID"], -1))
            if job is None:
                continue
            _add_task(job.counters, e)
        elif kind in ("SparkListenerSQLExecutionStart", "SparkListenerSQLAdaptiveExecutionUpdate"):
            executions.setdefault(e["executionId"], Execution())
            plan(e["sparkPlanInfo"])
        elif kind == "SparkListenerDriverAccumUpdates":
            execution = executions.setdefault(e["executionId"], Execution())
            for acc_id, value in e["accumUpdates"]:
                name, scan_id, location = accums.get(acc_id, ("", None, ""))
                if scan_id is not None and name in ("number of files read", "size of files read"):
                    scan = execution.scans.setdefault(scan_id, Scan(location))
                    if name == "number of files read":
                        scan.files += int(value)
                    else:
                        scan.bytes += int(value)
                elif name == "number of written files":
                    execution.counters["files_written"] += int(value)
    return EventLog(jobs, executions)


def _add_task(c: Counter, e: dict) -> None:
    m = e.get("Task Metrics") or {}
    c["tasks"] += 1
    c["run_ms"] += m.get("Executor Run Time", 0)
    c["gc_ms"] += m.get("JVM GC Time", 0)
    c["shuffle_write_b"] += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
    c["fetch_wait_ms"] += (m.get("Shuffle Read Metrics") or {}).get("Fetch Wait Time", 0)
    out = m.get("Output Metrics") or {}
    c["output_b"] += out.get("Bytes Written", 0)
    c["output_rows"] += out.get("Records Written", 0)
    for a in (e.get("Task Info") or {}).get("Accumulables", []):
        key = _TASK_ACCUMS.get(a.get("Name"))
        if key is not None:
            c[key] += int(a.get("Update") or 0)


def read(path: str) -> EventLog:
    with open(path) as f:
        return fold(f)
