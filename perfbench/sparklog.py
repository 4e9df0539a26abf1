"""Readers for what Spark reports about a run: the event log and the
streaming progress events.

The event log is Spark's own (``spark.eventLog.enabled``), written
uncompressed as JSON lines, one file or a rolling directory of them.
Only the fields the per-layer metrics need are kept.
"""

from __future__ import annotations

import json
import os
import statistics
from dataclasses import dataclass, field

# SQL metric names the Python operators and Python data sources carry.
PY_SENT = "data sent to Python workers"
PY_RECEIVED = "data returned from Python workers"
PY_ROWS = "number of output rows"


@dataclass
class Task:
    stage: int
    launch: float
    finish: float
    cpu_s: float
    gc_s: float
    result_b: int
    spill_b: int
    shuffle_write_b: int
    in_b: int
    in_rows: int
    out_b: int
    shuffle_read_rows: int
    accums: dict[int, float]


@dataclass
class Job:
    id: int
    submit: float
    group: str | None
    stages: list[int]
    tasks: list[Task] = field(default_factory=list)


@dataclass
class EventLog:
    jobs: dict[int, Job]
    py_sent: set[int]
    py_received: set[int]
    py_rows: set[int]


def read_lines(log_dir: str) -> list[dict]:
    """All events under ``log_dir``, in file-name order (rolling logs
    number their files)."""
    paths = []
    for root, _dirs, files in os.walk(log_dir):
        paths.extend(os.path.join(root, f) for f in files if not f.startswith("."))
    events = []
    for p in sorted(paths):
        with open(p, encoding="utf-8") as f:
            for line in f:
                line = line.strip()
                if not line:
                    continue
                try:
                    events.append(json.loads(line))
                except json.JSONDecodeError:
                    break  # a torn last line of an unfinished file
    return events


def _plan_metrics(node: dict, sent: set, received: set, rows: set) -> None:
    names = {m["name"]: m["accumulatorId"] for m in node.get("metrics", ())}
    if PY_SENT in names:
        sent.add(names[PY_SENT])
    if PY_RECEIVED in names:
        received.add(names[PY_RECEIVED])
        if PY_ROWS in names:
            rows.add(names[PY_ROWS])
    for child in node.get("children", ()):
        _plan_metrics(child, sent, received, rows)


def parse(events: list[dict]) -> EventLog:
    jobs: dict[int, Job] = {}
    stage_job: dict[int, int] = {}
    sent, received, rows = set(), set(), set()
    for e in events:
        kind = e.get("Event", "")
        if kind == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            job = Job(
                id=e["Job ID"],
                submit=e["Submission Time"] / 1000.0,
                group=props.get("spark.jobGroup.id"),
                stages=list(e.get("Stage IDs", ())),
            )
            jobs[job.id] = job
            for s in job.stages:
                stage_job.setdefault(s, job.id)
        elif kind == "SparkListenerTaskEnd":
            job_id = stage_job.get(e["Stage ID"])
            info, m = e.get("Task Info") or {}, e.get("Task Metrics") or {}
            if job_id is None or not m:
                continue
            accums = {}
            for a in info.get("Accumulables", ()):
                try:
                    accums[a["ID"]] = float(a["Update"])
                except (KeyError, TypeError, ValueError):
                    continue
            sw = m.get("Shuffle Write Metrics") or {}
            sr = m.get("Shuffle Read Metrics") or {}
            im = m.get("Input Metrics") or {}
            om = m.get("Output Metrics") or {}
            jobs[job_id].tasks.append(
                Task(
                    stage=e["Stage ID"],
                    launch=info.get("Launch Time", 0) / 1000.0,
                    finish=info.get("Finish Time", 0) / 1000.0,
                    cpu_s=m.get("Executor CPU Time", 0) / 1e9,
                    gc_s=m.get("JVM GC Time", 0) / 1000.0,
                    result_b=m.get("Result Size", 0),
                    spill_b=m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0),
                    shuffle_write_b=sw.get("Shuffle Bytes Written", 0),
                    in_b=im.get("Bytes Read", 0),
                    in_rows=im.get("Records Read", 0),
                    out_b=om.get("Bytes Written", 0),
                    shuffle_read_rows=sr.get("Total Records Read", 0),
                    accums=accums,
                )
            )
        elif kind.endswith("SparkListenerSQLExecutionStart") or kind.endswith(
            "SparkListenerSQLAdaptiveExecutionUpdate"
        ):
            plan = e.get("sparkPlanInfo")
            if plan:
                _plan_metrics(plan, sent, received, rows)
    return EventLog(jobs, sent, received, rows)


def task_metrics(log: EventLog, jobs: list[Job]) -> dict[str, float]:
    """Work counters over the tasks of ``jobs``."""
    tasks = [t for j in jobs for t in j.tasks]
    by_stage: dict[int, list[float]] = {}
    for t in tasks:
        by_stage.setdefault(t.stage, []).append(t.finish - t.launch)
    # Skew of the stage whose slowest task is the slowest overall: the
    # straggler that sets that stage's time.
    skew = 1.0
    multi = [d for d in by_stage.values() if len(d) >= 2]
    if multi:
        worst = max(multi, key=max)
        # Task times are whole milliseconds; a 0 ms median counts as 1 ms.
        skew = max(max(worst), 0.001) / max(statistics.median(worst), 0.001)
    mb = 1024.0 * 1024.0
    return {
        "jobs": len(jobs),
        "stages": len(by_stage),
        "tasks": len(tasks),
        "task_cpu_s": sum(t.cpu_s for t in tasks),
        "gc_s": sum(t.gc_s for t in tasks),
        "task_skew_max_over_median": skew,
        "empty_task_ratio": (
            sum(1 for t in tasks if t.in_rows == 0 and t.shuffle_read_rows == 0) / len(tasks)
            if tasks
            else 0.0
        ),
        "shuffle_write_mb": sum(t.shuffle_write_b for t in tasks) / mb,
        "spill_mb": sum(t.spill_b for t in tasks) / mb,
        "result_mb": sum(t.result_b for t in tasks) / mb,
        "scan_mb": sum(t.in_b for t in tasks) / mb,
        "scan_rows": sum(t.in_rows for t in tasks),
        "write_mb": sum(t.out_b for t in tasks) / mb,
        "py_bytes_to": sum(v for t in tasks for k, v in t.accums.items() if k in log.py_sent),
        "py_bytes_from": sum(v for t in tasks for k, v in t.accums.items() if k in log.py_received),
        "py_rows_from": sum(v for t in tasks for k, v in t.accums.items() if k in log.py_rows),
    }


def stream_metrics(progress: list[dict]) -> dict[str, float]:
    """Per-micro-batch cost from ``StreamingQueryProgress`` JSON dicts.

    The fixed cost of a batch shows as ``empty_batch_ms`` (batches that
    read no rows); the per-row cost as ``ms_per_krow``.
    """
    ms = [p["durationMs"].get("triggerExecution", 0) for p in progress]
    rows = [p.get("numInputRows", 0) for p in progress]
    empty = [m for m, r in zip(ms, rows) if r == 0]
    commit = [
        p["durationMs"].get("walCommit", 0) + p["durationMs"].get("commitOffsets", 0)
        for p in progress
    ]
    partitions, last_rows = 0, {}
    for p in progress:
        ops = p.get("stateOperators") or ()
        for op in ops:
            partitions = max(partitions, op.get("numShufflePartitions") or op.get("numStateStoreInstances") or 0)
        last_rows[p.get("runId")] = sum(op.get("numRowsTotal", 0) for op in ops)
    total_rows = sum(rows)
    return {
        "batches": len(progress),
        "empty_batches": len(empty),
        "batch_ms_p50": statistics.median(ms) if ms else 0.0,
        "batch_ms_max": max(ms) if ms else 0.0,
        "empty_batch_ms": statistics.median(empty) if empty else 0.0,
        "ms_per_krow": sum(ms) / (total_rows / 1000.0) if total_rows else 0.0,
        "state_partitions": partitions,
        "state_rows": sum(last_rows.values()),
        "commit_ms": statistics.median(commit) if commit else 0.0,
    }
