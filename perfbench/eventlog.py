"""Per-layer numbers from a Spark event log (uncompressed, non-rolling JSON).

Stdlib only. Tasks are attributed to a job group through their stage's job
(``SparkListenerJobStart`` carries ``spark.jobGroup.id``); SQL executions
carry their group in ``jobGroupId``. Accumulable updates are converted to
milliseconds (``timing`` is already ms, ``nsTiming`` is ns) or bytes using
the metric types the SQL plan infos declare.

"time to initialize Python workers" is deliberately never read: in local
mode it overlaps task run time, so it is not any layer's self time.
"""

from __future__ import annotations

import json
import statistics
from dataclasses import dataclass, field

PYTHON_RUN = "time to run Python workers"
TO_PYTHON = "data sent to Python workers"
FROM_PYTHON = "data returned from Python workers"
AGG_BUILD = "time in aggregation build"
SCAN_TIME = "scan time"
FILES_SIZE = "size of files read"  # a driver-side metric of the scan node


@dataclass
class Task:
    stage: int
    failed: bool
    run_ms: float
    cpu_ms: float
    gc_ms: float
    input_records: int
    shuffle_read_records: int
    shuffle_write_bytes: int
    shuffle_write_ms: float
    accums: dict = field(default_factory=dict)


@dataclass
class Execution:
    group: str | None
    plan: dict | None
    driver_accums: dict = field(default_factory=dict)  # accumulator id -> value


@dataclass
class EventLog:
    job_group: dict = field(default_factory=dict)  # job id -> group
    stage_job: dict = field(default_factory=dict)  # stage id -> first job id
    tasks: list = field(default_factory=list)
    executions: dict = field(default_factory=dict)  # execution id -> Execution
    metric_names: dict = field(default_factory=dict)  # accumulator id -> name

    def group_of_stage(self, stage: int) -> str | None:
        job = self.stage_job.get(stage)
        return None if job is None else self.job_group.get(job)


def _walk(node: dict):
    yield node
    for child in node.get("children", ()):
        yield from _walk(child)


def _metric_types(plan: dict, types: dict, names: dict) -> None:
    for node in _walk(plan):
        for m in node.get("metrics", ()):
            types[m["accumulatorId"]] = m["metricType"]
            names[m["accumulatorId"]] = m["name"]


def parse(lines) -> EventLog:
    """Parse event-log lines (an open file or any iterable of JSON strings)."""
    log = EventLog()
    types: dict[int, str] = {}
    raw_tasks = []
    for line in lines:
        if not line.strip():
            continue
        ev = json.loads(line)
        kind = ev["Event"]
        if kind == "SparkListenerJobStart":
            job = ev["Job ID"]
            log.job_group[job] = (ev.get("Properties") or {}).get("spark.jobGroup.id")
            for stage in ev["Stage IDs"]:
                log.stage_job.setdefault(stage, job)
        elif kind == "SparkListenerTaskEnd":
            raw_tasks.append(ev)
        elif kind.endswith("SparkListenerSQLExecutionStart"):
            _metric_types(ev["sparkPlanInfo"], types, log.metric_names)
            log.executions[ev["executionId"]] = Execution(
                ev.get("jobGroupId"), ev["sparkPlanInfo"]
            )
        elif kind.endswith("SparkListenerSQLAdaptiveExecutionUpdate"):
            _metric_types(ev["sparkPlanInfo"], types, log.metric_names)
            ex = log.executions.setdefault(ev["executionId"], Execution(None, None))
            ex.plan = ev["sparkPlanInfo"]  # the last update is the final plan
        elif kind.endswith("SparkListenerDriverAccumUpdates"):
            ex = log.executions.setdefault(ev["executionId"], Execution(None, None))
            for acc_id, value in ev["accumUpdates"]:
                ex.driver_accums[acc_id] = ex.driver_accums.get(acc_id, 0) + value
    for ev in raw_tasks:
        log.tasks.append(_task(ev, types))
    return log


def _task(ev: dict, types: dict) -> Task:
    info = ev["Task Info"]
    m = ev.get("Task Metrics") or {}
    accums: dict[str, float] = {}
    for a in info.get("Accumulables", ()):
        name = a.get("Name", "")
        if name.startswith("internal.") or "Update" not in a:
            continue
        try:
            value = float(a["Update"])
        except (TypeError, ValueError):
            continue
        if types.get(a["ID"]) == "nsTiming":
            value /= 1e6
        accums[name] = accums.get(name, 0.0) + value
    sr = m.get("Shuffle Read Metrics") or {}
    sw = m.get("Shuffle Write Metrics") or {}
    inp = m.get("Input Metrics") or {}
    reason = (ev.get("Task End Reason") or {}).get("Reason", "Success")
    return Task(
        stage=ev["Stage ID"],
        failed=bool(info.get("Failed")) or reason != "Success",
        run_ms=float(m.get("Executor Run Time", 0)),
        cpu_ms=m.get("Executor CPU Time", 0) / 1e6,
        gc_ms=float(m.get("JVM GC Time", 0)),
        input_records=int(inp.get("Records Read", 0)),
        shuffle_read_records=int(sr.get("Total Records Read", 0)),
        shuffle_write_bytes=int(sw.get("Shuffle Bytes Written", 0)),
        shuffle_write_ms=sw.get("Shuffle Write Time", 0) / 1e6,
        accums=accums,
    )


def load(path: str) -> EventLog:
    with open(path, encoding="utf-8") as f:
        return parse(f)


def _count_nodes(plan: dict | None, pred) -> int:
    return 0 if plan is None else sum(1 for n in _walk(plan) if pred(n))


def group_totals(log: EventLog, groups, scan_location: str | None = None) -> dict:
    """Sum task and plan metrics over the jobs of ``groups`` (a set of names)."""
    groups = set(groups)
    tasks = [t for t in log.tasks if log.group_of_stage(t.stage) in groups]
    stages: dict[int, list[Task]] = {}
    for t in tasks:
        stages.setdefault(t.stage, []).append(t)

    def acc(ts, name):
        return sum(t.accums.get(name, 0.0) for t in ts)

    # the fold stages: they read the shuffle and run the fold's pandas UDF
    fold_stages = [
        ts
        for ts in stages.values()
        if sum(t.shuffle_read_records for t in ts) > 0 and acc(ts, PYTHON_RUN) > 0
    ]
    skews = [
        max(t.run_ms for t in ts) / max(statistics.median(t.run_ms for t in ts), 1.0)
        for ts in fold_stages
    ]
    execs = [ex for ex in log.executions.values() if ex.group in groups]
    plans = [ex.plan for ex in execs]
    return {
        "jobs": sum(1 for g in log.job_group.values() if g in groups),
        "stages": len(stages),
        "tasks": len(tasks),
        "exchanges": sum(
            _count_nodes(p, lambda n: n["nodeName"].endswith("Exchange")) for p in plans
        ),
        "corpus_scans": sum(
            _count_nodes(
                p,
                lambda n: n["nodeName"].startswith("Scan")
                and scan_location is not None
                and scan_location in (n.get("metadata") or {}).get("Location", ""),
            )
            for p in plans
        ),
        "run_ms": sum(t.run_ms for t in tasks),
        "cpu_ms": sum(t.cpu_ms for t in tasks),
        "gc_ms": sum(t.gc_ms for t in tasks),
        "files_bytes": sum(
            v
            for ex in execs
            for acc_id, v in ex.driver_accums.items()
            if log.metric_names.get(acc_id) == FILES_SIZE
        ),
        "input_records": sum(t.input_records for t in tasks),
        "scan_ms": acc(tasks, SCAN_TIME),
        "python_ms": acc(tasks, PYTHON_RUN),
        "bytes_to_python": acc(tasks, TO_PYTHON),
        "bytes_from_python": acc(tasks, FROM_PYTHON),
        "agg_build_ms": acc(tasks, AGG_BUILD),
        "shuffle_bytes": sum(t.shuffle_write_bytes for t in tasks),
        "shuffle_write_ms": sum(t.shuffle_write_ms for t in tasks),
        "fold_python_ms": sum(acc(ts, PYTHON_RUN) for ts in fold_stages),
        "fold_task_skew": max(skews, default=0.0),
    }
