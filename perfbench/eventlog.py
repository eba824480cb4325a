"""Per-op Spark engine metrics from the event log.

Each traced op runs under its own job group, so the JobStart events map
stages to ops, and the TaskEnd events of those stages give the op's tasks,
task time, scheduler delay, shuffle, spill and records read."""

from __future__ import annotations

import json
import os

from .measure import median


def read_events(log_dir: str) -> list[dict]:
    """Events of the uncompressed event log(s) under ``log_dir``; Spark 4
    writes each app's log as rolled ``events_<n>_<app>`` files in an
    ``eventlog_v2_<app>`` directory."""
    files = []
    for d, _, names in os.walk(log_dir):
        for name in names:
            if name.startswith("events_"):
                files.append((d, int(name.split("_")[1]), name))
    events = []
    for d, _, name in sorted(files):
        with open(os.path.join(d, name)) as f:
            events += [json.loads(line) for line in f if line.strip()]
    return events


def _scheduler_delay_ms(info: dict, m: dict) -> float:
    # the Spark UI's formula: duration minus every accounted part
    dur = info["Finish Time"] - info["Launch Time"]
    return max(0.0, dur - m.get("Executor Run Time", 0)
               - m.get("Executor Deserialize Time", 0)
               - m.get("Result Serialization Time", 0)
               - info.get("Getting Result Time", 0))


def op_metrics(events: list[dict], group_prefix: str) -> dict[str, dict]:
    """{job group: {jobs, tasks, task_s, sched_delay_ms, shuffle_bytes,
    spill_bytes, records_read, stage_skews}} for groups with the prefix."""
    stage_group: dict[int, str] = {}
    out: dict[str, dict] = {}
    stage_tasks: dict[int, list[float]] = {}
    for e in events:
        kind = e.get("Event")
        if kind == "SparkListenerJobStart":
            g = (e.get("Properties") or {}).get("spark.jobGroup.id") or ""
            if not g.startswith(group_prefix):
                continue
            rec = out.setdefault(g, {"jobs": 0, "tasks": 0, "task_s": 0.0,
                                     "sched_delay_ms": 0.0, "shuffle_bytes": 0,
                                     "spill_bytes": 0, "records_read": 0,
                                     "stage_skews": []})
            rec["jobs"] += 1
            for sid in e.get("Stage IDs", []):
                stage_group[sid] = g
        elif kind == "SparkListenerTaskEnd":
            g = stage_group.get(e.get("Stage ID"))
            m = e.get("Task Metrics")
            if g is None or not m:
                continue
            rec = out[g]
            info = e["Task Info"]
            rec["tasks"] += 1
            rec["task_s"] += m.get("Executor Run Time", 0) / 1000.0
            rec["sched_delay_ms"] += _scheduler_delay_ms(info, m)
            rec["shuffle_bytes"] += (m.get("Shuffle Write Metrics") or {}).get(
                "Shuffle Bytes Written", 0)
            rec["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get(
                "Disk Bytes Spilled", 0)
            rec["records_read"] += (m.get("Input Metrics") or {}).get("Records Read", 0)
            stage_tasks.setdefault(e["Stage ID"], []).append(
                float(m.get("Executor Run Time", 0)))
    for sid, times in stage_tasks.items():
        med = median(times)
        if len(times) >= 2 and med > 0:
            out[stage_group[sid]]["stage_skews"].append(max(times) / med)
    return out
