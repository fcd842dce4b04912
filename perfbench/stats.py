"""Percentiles and Spark event-log parsing.

Pure functions over plain data, so the tests can pin them without Spark.
"""

from __future__ import annotations

import json
import math
import os
import re


def percentile(values: list[float], q: float) -> float:
    """Nearest-rank percentile: the smallest sample with at least ``q``
    percent of the samples at or below it."""
    if not values:
        raise ValueError("percentile of no samples")
    if not 0 < q <= 100:
        raise ValueError(f"percentile {q} outside (0, 100]")
    s = sorted(values)
    return s[max(0, math.ceil(q / 100 * len(s)) - 1)]


def median(values: list[float]) -> float:
    """Middle sample, mean of the two middle ones for an even count."""
    if not values:
        raise ValueError("median of no samples")
    s = sorted(values)
    mid = len(s) // 2
    return s[mid] if len(s) % 2 else (s[mid - 1] + s[mid]) / 2


# ----------------------------------------------------------- event log


def read_event_log(directory: str) -> list[dict]:
    """Every event of every application log under ``directory`` (plain
    files or Spark's rolling ``eventlog_v2_*`` directories)."""
    paths = []
    for f in sorted(os.listdir(directory)):
        p = os.path.join(directory, f)
        if f.startswith("."):
            continue
        if os.path.isdir(p):
            paths += [os.path.join(p, g) for g in sorted(os.listdir(p)) if g.startswith("events_")]
        else:
            paths.append(p)
    events = []
    for p in paths:
        with open(p) as fh:
            events += [json.loads(line) for line in fh if line.strip()]
    return events


def _union_ms(intervals: list[tuple[int, int]]) -> int:
    total = 0
    end = None
    for a, b in sorted(intervals):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total


def spark_work_by_group(events: list[dict]) -> dict[str, dict[str, float]]:
    """Per job group: jobs, stages, tasks, executor run time, shuffle
    write and spill bytes, and the wall time covered by its stages.

    Stages that a job lists but never ran (reused exchanges) are not
    counted."""
    job_group: dict[int, str] = {}
    stage_job: dict[int, int] = {}
    stage_span: dict[int, tuple[int, int]] = {}
    stage_acc: dict[int, dict[str, float]] = {}
    for ev in events:
        t = ev.get("Event")
        if t == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            for s in ev.get("Stage Infos", []):
                # a stage runs in the first job that lists it; later jobs
                # list it again only to skip it
                stage_job.setdefault(s["Stage ID"], ev["Job ID"])
            group = props.get("spark.jobGroup.id")
            if group is not None:
                job_group[ev["Job ID"]] = group
        elif t == "SparkListenerStageCompleted":
            si = ev["Stage Info"]
            sub, comp = si.get("Submission Time"), si.get("Completion Time")
            if sub and comp:
                stage_span[si["Stage ID"]] = (sub, comp)
        elif t == "SparkListenerTaskEnd":
            m = ev.get("Task Metrics") or {}
            acc = stage_acc.setdefault(
                ev["Stage ID"],
                {"tasks": 0, "run_ms": 0, "shuffle_write": 0, "spill": 0},
            )
            acc["tasks"] += 1
            acc["run_ms"] += m.get("Executor Run Time", 0)
            acc["shuffle_write"] += (m.get("Shuffle Write Metrics") or {}).get(
                "Shuffle Bytes Written", 0
            )
            acc["spill"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
    out: dict[str, dict[str, float]] = {}
    for job, group in job_group.items():
        g = out.setdefault(group, {
            "jobs": 0, "stages": 0, "tasks": 0, "executor_run_s": 0.0,
            "shuffle_write_bytes": 0, "spill_bytes": 0, "_spans": [],
        })
        g["jobs"] += 1
    for sid, job in stage_job.items():
        if job not in job_group or sid not in stage_span:
            continue
        g = out[job_group[job]]
        acc = stage_acc.get(sid, {})
        g["stages"] += 1
        g["tasks"] += acc.get("tasks", 0)
        g["executor_run_s"] += acc.get("run_ms", 0) / 1000
        g["shuffle_write_bytes"] += acc.get("shuffle_write", 0)
        g["spill_bytes"] += acc.get("spill", 0)
        g["_spans"].append(stage_span[sid])
    for g in out.values():
        g["stage_wall_s"] = _union_ms(g.pop("_spans")) / 1000
    return out


_READ_SCHEMA_RE = re.compile(r"ReadSchema: (struct<[^\n]*?>)(?:\n|$| )")


def read_schemas(plan: str) -> list[str]:
    """The ``ReadSchema`` of every file scan in a physical plan string."""
    return _READ_SCHEMA_RE.findall(plan)
