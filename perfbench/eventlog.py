"""Offline parser for Spark's uncompressed JSON event log.

Each line is one listener event. Jobs carry their job group in their
properties; stages and tasks are tied to jobs through the job's stage
ids. A job with no group is attributed by its submission time to the
operation whose wall-clock window holds it (the loop is closed, so at
most one operation runs at a time).
"""

from __future__ import annotations

import json
import os
from collections import defaultdict
from dataclasses import dataclass, field

COUNTERS = (
    "jobs",
    "stages",
    "single_task_stages",
    "tasks",
    "failed_tasks",
    "executor_run_s",
    "executor_cpu_s",
    "gc_s",
    "input_bytes",
    "shuffle_read_bytes",
    "shuffle_write_bytes",
    "spill_bytes",
)


@dataclass
class Job:
    job_id: int
    group: str | None
    submitted_ms: int
    stage_ids: list[int]


@dataclass
class EventLog:
    jobs: dict[int, Job] = field(default_factory=dict)
    # stage id -> tasks launched, over all attempts, for stages that ran
    stage_tasks: dict[int, int] = field(default_factory=dict)
    stage_counters: dict[int, dict[str, float]] = field(
        default_factory=lambda: defaultdict(lambda: defaultdict(float))
    )


def parse(lines) -> EventLog:
    log = EventLog()
    for line in lines:
        if not line.strip():
            continue
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            log.jobs[ev["Job ID"]] = Job(
                job_id=ev["Job ID"],
                group=props.get("spark.jobGroup.id"),
                submitted_ms=ev.get("Submission Time", 0),
                stage_ids=list(ev.get("Stage IDs", [])),
            )
        elif kind == "SparkListenerStageCompleted":
            info = ev["Stage Info"]
            if "Submission Time" in info:  # skipped stages never submit
                sid = info["Stage ID"]
                log.stage_tasks[sid] = log.stage_tasks.get(sid, 0) + info["Number of Tasks"]
        elif kind == "SparkListenerTaskEnd":
            c = log.stage_counters[ev["Stage ID"]]
            reason = (ev.get("Task End Reason") or {}).get("Reason", "Success")
            info = ev.get("Task Info") or {}
            if reason != "Success" or info.get("Failed") or info.get("Killed"):
                c["failed_tasks"] += 1
            m = ev.get("Task Metrics") or {}
            c["executor_run_s"] += m.get("Executor Run Time", 0) / 1e3
            c["executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
            c["gc_s"] += m.get("JVM GC Time", 0) / 1e3
            c["input_bytes"] += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
            sr = m.get("Shuffle Read Metrics") or {}
            c["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get(
                "Local Bytes Read", 0
            )
            sw = m.get("Shuffle Write Metrics") or {}
            c["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
            c["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get(
                "Disk Bytes Spilled", 0
            )
    return log


def read(path: str) -> EventLog:
    """Parse one application's log: a single file, or the directory of
    numbered `events_<n>_<app>` files a rolling event log writes."""
    if not os.path.isdir(path):
        with open(path) as f:
            return parse(f)
    parts = sorted(
        (f for f in os.listdir(path) if f.startswith("events_")),
        key=lambda f: int(f.split("_")[1]),
    )
    lines = []
    for part in parts:
        with open(os.path.join(path, part)) as f:
            lines.extend(f)
    return parse(lines)


def _stage_owners(log: EventLog) -> dict[int, int]:
    """Stage id -> the first job listing it. A later job that reuses a
    shuffle lists the stage again but skips it."""
    owners: dict[int, int] = {}
    for jid in sorted(log.jobs):
        for sid in log.jobs[jid].stage_ids:
            owners.setdefault(sid, jid)
    return owners


def job_counters(log: EventLog, job: Job, owners: dict[int, int]) -> dict[str, float]:
    """Counters of the stages this job ran."""
    out = dict.fromkeys(COUNTERS, 0.0)
    out["jobs"] = 1
    for sid in job.stage_ids:
        if sid not in log.stage_tasks or owners[sid] != job.job_id:
            continue
        out["stages"] += 1
        out["single_task_stages"] += log.stage_tasks[sid] == 1
        out["tasks"] += log.stage_tasks[sid]
        for k, v in log.stage_counters.get(sid, {}).items():
            out[k] += v
    return out


def attribute(log: EventLog, windows: list[tuple[str, float, float]]) -> dict[str, dict[str, float]]:
    """Sum job counters per key.

    A job whose group is "<key>/<layer>" goes to that key and, under
    "<key>/<layer>", to its layer. Other jobs go to the key whose
    (start, end) epoch-second window holds their submission time, and
    are dropped when none does.
    """
    out: dict[str, dict[str, float]] = {}
    keys = {k for k, _s, _e in windows}

    def add(key: str, counters: dict[str, float]) -> None:
        acc = out.setdefault(key, dict.fromkeys(COUNTERS, 0.0))
        for k, v in counters.items():
            acc[k] += v

    owners = _stage_owners(log)
    for job in log.jobs.values():
        counters = job_counters(log, job, owners)
        key = job.group.split("/", 1)[0] if job.group else None
        if key in keys:
            add(key, counters)
            add(job.group, counters)
            continue
        t = job.submitted_ms / 1e3
        for k, start, end in windows:
            if start <= t <= end:
                add(k, counters)
                break
    return out
