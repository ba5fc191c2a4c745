"""Spark event-log folding per job group.

Reads an uncompressed event log — a plain ``<app-id>`` file or a
rolling ``eventlog_v2_<app-id>/events_<n>_<app-id>`` directory — and
sums jobs, stages, tasks and task metrics per ``spark.jobGroup.id``.
Stages and tasks are attributed through the group recorded on their
stage submission, so stages shared between jobs are counted once.
"""

from __future__ import annotations

import glob
import json
import os
import re
from collections import defaultdict

FIELDS = (
    "jobs",
    "stages",
    "tasks",
    "failed_tasks",
    "run_s",
    "cpu_s",
    "gc_s",
    "deser_s",
    "sched_wait_s",
    "shuffle_read_mb",
    "shuffle_write_mb",
    "spill_mb",
    "input_mb",
)
_MB = 1024.0 * 1024.0


def log_files(log_dir: str) -> list[str]:
    """Event-log files under ``log_dir`` in write order."""

    def part_no(path: str) -> int:
        m = re.match(r"events_(\d+)_", os.path.basename(path))
        return int(m.group(1)) if m else 0

    out = []
    for entry in sorted(os.listdir(log_dir)):
        path = os.path.join(log_dir, entry)
        if os.path.isdir(path):
            out.extend(sorted(glob.glob(os.path.join(path, "events_*")), key=part_no))
        elif not entry.startswith("."):
            out.append(path)
    return out


def _events(paths: list[str]):
    for path in paths:
        with open(path, encoding="utf-8") as fh:
            for line in fh:
                if line.strip():
                    yield json.loads(line)


def fold(log_dir: str) -> dict[str, dict[str, float]]:
    """``{job_group: {field: value}}`` over every event log in
    ``log_dir``; work outside any job group is keyed ``""``."""
    per: dict[str, dict[str, float]] = defaultdict(lambda: dict.fromkeys(FIELDS, 0.0))
    stage_group: dict[tuple[int, int], str] = {}
    stage_submit: dict[tuple[int, int], int] = {}
    for ev in _events(log_files(log_dir)):
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            group = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
            per[group]["jobs"] += 1
        elif kind == "SparkListenerStageSubmitted":
            info = ev["Stage Info"]
            key = (info["Stage ID"], info.get("Stage Attempt ID", 0))
            stage_group[key] = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
            stage_submit[key] = info.get("Submission Time") or 0
        elif kind == "SparkListenerStageCompleted":
            info = ev["Stage Info"]
            key = (info["Stage ID"], info.get("Stage Attempt ID", 0))
            per[stage_group.get(key, "")]["stages"] += 1
        elif kind == "SparkListenerTaskEnd":
            key = (ev["Stage ID"], ev.get("Stage Attempt ID", 0))
            acc = per[stage_group.get(key, "")]
            acc["tasks"] += 1
            if (ev.get("Task End Reason") or {}).get("Reason") != "Success":
                acc["failed_tasks"] += 1
            info = ev.get("Task Info") or {}
            if key in stage_submit and info.get("Launch Time"):
                acc["sched_wait_s"] += max(0, info["Launch Time"] - stage_submit[key]) / 1e3
            m = ev.get("Task Metrics") or {}
            acc["run_s"] += m.get("Executor Run Time", 0) / 1e3
            acc["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
            acc["gc_s"] += m.get("JVM GC Time", 0) / 1e3
            acc["deser_s"] += m.get("Executor Deserialize Time", 0) / 1e3
            sr = m.get("Shuffle Read Metrics") or {}
            acc["shuffle_read_mb"] += (
                sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
            ) / _MB
            acc["shuffle_write_mb"] += (m.get("Shuffle Write Metrics") or {}).get(
                "Shuffle Bytes Written", 0
            ) / _MB
            acc["spill_mb"] += (
                m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
            ) / _MB
            acc["input_mb"] += (m.get("Input Metrics") or {}).get("Bytes Read", 0) / _MB
    return dict(per)
