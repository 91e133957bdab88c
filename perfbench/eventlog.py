"""Spark event-log reader: per-job-group cost ledger.

Reads the uncompressed rolling logs Spark 4 writes under
``spark.eventLog.dir`` (``eventlog_v2_<app>/events_<n>_<app>``, JSON lines)
and folds jobs, stages and tasks onto the job group that was set with
``SparkContext.setJobGroup`` when each job started.
"""

from __future__ import annotations

import json
import os
import re
from collections import defaultdict
from dataclasses import dataclass, field


@dataclass
class GroupCost:
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    executor_ms: float = 0.0
    records_read: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    job_intervals: list[tuple[float, float]] = field(default_factory=list)  # epoch s


def _event_files(log_dir: str) -> list[str]:
    files = []
    for app in sorted(os.listdir(log_dir)):
        app_dir = os.path.join(log_dir, app)
        if not (app.startswith("eventlog_v2_") and os.path.isdir(app_dir)):
            continue
        parts = [n for n in os.listdir(app_dir) if n.startswith("events_")]
        parts.sort(key=lambda n: int(re.match(r"events_(\d+)_", n).group(1)))
        files += [os.path.join(app_dir, n) for n in parts]
    return files


def read_ledger(log_dir: str) -> dict[str, GroupCost]:
    """Cost per job group id; jobs started with no group land under ''."""
    # keys are (application log dir, id): ids restart in every application
    job_group: dict[tuple[str, int], str] = {}
    job_start: dict[tuple[str, int], float] = {}
    stage_group: dict[tuple[str, int], str] = {}
    ledger: dict[str, GroupCost] = defaultdict(GroupCost)
    for path in _event_files(log_dir):
        app = os.path.dirname(path)
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    key = (app, ev["Job ID"])
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
                    job_group[key] = group
                    job_start[key] = ev["Submission Time"] / 1000.0
                    ledger[group].jobs += 1
                    for sid in ev.get("Stage IDs", []):
                        stage_group.setdefault((app, sid), group)
                elif kind == "SparkListenerJobEnd":
                    key = (app, ev["Job ID"])
                    if key in job_start:
                        ledger[job_group[key]].job_intervals.append(
                            (job_start[key], ev["Completion Time"] / 1000.0)
                        )
                elif kind == "SparkListenerStageSubmitted":
                    info = ev["Stage Info"]
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    if group is None:
                        group = stage_group.get((app, info["Stage ID"]), "")
                    stage_group[(app, info["Stage ID"])] = group
                    if info.get("Stage Attempt ID", 0) == 0:
                        ledger[group].stages += 1
                elif kind == "SparkListenerTaskEnd":
                    group = stage_group.get((app, ev["Stage ID"]), "")
                    cost = ledger[group]
                    cost.tasks += 1
                    m = ev.get("Task Metrics") or {}
                    cost.executor_ms += m.get("Executor Run Time", 0)
                    cost.records_read += (m.get("Input Metrics") or {}).get("Records Read", 0)
                    cost.shuffle_write_bytes += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
                    cost.spill_bytes += m.get("Disk Bytes Spilled", 0)
    return dict(ledger)


def covered_s(intervals: list[tuple[float, float]], start: float, end: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[start, end]``."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(s, start), min(e, end)) for s, e in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total
