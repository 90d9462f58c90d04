"""Spark event-log reader: task, stage and job metrics per job group.

Reads an uncompressed event log (``spark.eventLog.compress=false``) in
either layout Spark writes: one JSON-lines file per application, or the
rolling v2 layout, a directory ``eventlog_v2_<app>`` holding
``events_<n>_<app>`` files read in ``<n>`` order.

Jobs are attributed to the ``spark.jobGroup.id`` property they were
submitted under; a stage belongs to the group of the first job that
lists it; a task to its stage. Only submitted stages count: a stage a
job lists but skips (its shuffle output already exists) ran nothing.
"""

from __future__ import annotations

import json
import os
import re
from collections import defaultdict
from dataclasses import dataclass

MB = 1024 * 1024


@dataclass
class GroupStats:
    """Totals for one job group. Times in seconds, sizes in bytes."""

    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    failed_tasks: int = 0
    single_task_stages: int = 0
    run_s: float = 0.0
    cpu_s: float = 0.0
    gc_s: float = 0.0
    task_wait_s: float = 0.0
    longest_stage_s: float = 0.0
    shuffle_read_b: int = 0
    shuffle_write_b: int = 0
    spill_b: int = 0
    input_b: int = 0


def event_files(path: str) -> list[str]:
    """The file(s) of one event log, in write order."""
    if os.path.isfile(path):
        return [path]
    numbered = []
    for name in os.listdir(path):
        m = re.match(r"events_(\d+)_", name)
        if m:
            numbered.append((int(m.group(1)), os.path.join(path, name)))
    return [p for _, p in sorted(numbered)]


def find_logs(log_dir: str) -> list[str]:
    """Every application log (file or v2 directory) under ``log_dir``."""
    if not os.path.isdir(log_dir):
        return []
    return sorted(
        os.path.join(log_dir, n) for n in os.listdir(log_dir) if not n.startswith(".")
    )


def read_events(path: str):
    for fname in event_files(path):
        with open(fname) as fh:
            for line in fh:
                line = line.strip()
                if line:
                    yield json.loads(line)


def summarize(events) -> dict[str, GroupStats]:
    """Per job group totals; jobs with no group fall under ``""``."""
    stage_group: dict[int, str] = {}
    submitted: dict[tuple[int, int], int] = {}  # (stage, attempt) -> submit ms
    groups: dict[str, GroupStats] = defaultdict(GroupStats)

    for ev in events:
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            group = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
            groups[group].jobs += 1
            for sid in ev.get("Stage IDs", []):
                stage_group.setdefault(sid, group)
        elif kind == "SparkListenerStageSubmitted":
            info = ev["Stage Info"]
            key = (info["Stage ID"], info.get("Stage Attempt ID", 0))
            submitted[key] = info.get("Submission Time") or 0
            g = groups[stage_group.get(key[0], "")]
            g.stages += 1
            if info.get("Number of Tasks") == 1:
                g.single_task_stages += 1
        elif kind == "SparkListenerStageCompleted":
            info = ev["Stage Info"]
            key = (info["Stage ID"], info.get("Stage Attempt ID", 0))
            g = groups[stage_group.get(key[0], "")]
            start = info.get("Submission Time") or submitted.get(key, 0)
            end = info.get("Completion Time") or start
            g.longest_stage_s = max(g.longest_stage_s, (end - start) / 1000.0)
        elif kind == "SparkListenerTaskEnd":
            key = (ev["Stage ID"], ev.get("Stage Attempt ID", 0))
            g = groups[stage_group.get(key[0], "")]
            g.tasks += 1
            info = ev.get("Task Info", {})
            reason = (ev.get("Task End Reason") or {}).get("Reason", "Success")
            if info.get("Failed") or reason != "Success":
                g.failed_tasks += 1
            if key in submitted and info.get("Launch Time"):
                g.task_wait_s += max(0, info["Launch Time"] - submitted[key]) / 1000.0
            m = ev.get("Task Metrics") or {}
            g.run_s += m.get("Executor Run Time", 0) / 1000.0
            g.cpu_s += m.get("Executor CPU Time", 0) / 1e9
            g.gc_s += m.get("JVM GC Time", 0) / 1000.0
            sr = m.get("Shuffle Read Metrics") or {}
            g.shuffle_read_b += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
            g.shuffle_write_b += (m.get("Shuffle Write Metrics") or {}).get(
                "Shuffle Bytes Written", 0
            )
            g.spill_b += m.get("Disk Bytes Spilled", 0)
            g.input_b += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
    return dict(groups)


def summarize_dir(log_dir: str) -> dict[str, GroupStats]:
    """Summary of the one application log under ``log_dir``."""
    logs = find_logs(log_dir)
    if len(logs) != 1:
        raise ValueError(f"expected one application log in {log_dir}, found {len(logs)}")
    return summarize(read_events(logs[0]))
