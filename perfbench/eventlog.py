"""Spark event-log reader: per-job-group task totals.

The benchmark's traced run sets one job group per timed call; this module
folds the event log's SparkListenerTaskEnd records back onto those groups.
It extends the TaskEnd parsing of scripts/scale_bench._sum_shuffle (shuffle
bytes only) to CPU, run, GC, scheduler delay, shuffle and spill, and needs
the job-start records to map stage -> job -> group.
"""

from __future__ import annotations

import json
import os
from collections import defaultdict

FIELDS = ("jobs", "stages", "tasks", "executor_cpu_s", "executor_run_s",
          "gc_s", "scheduler_delay_s", "shuffle_write_mb", "shuffle_read_mb",
          "spill_mb", "input_records", "output_mb")


def _log_files(event_dir: str) -> list[str]:
    out = []
    for root, _dirs, files in os.walk(event_dir):
        out += [os.path.join(root, f) for f in files
                if not f.startswith(".") and "appstatus" not in f]
    return sorted(out)


def group_totals(event_dir: str) -> dict[str, dict[str, float]]:
    """{job group: {field: total}} over every job of the application(s)
    logged under event_dir. Jobs started outside any group land in ""."""
    stage_group: dict[int, str] = {}
    totals: dict[str, dict[str, float]] = defaultdict(
        lambda: dict.fromkeys(FIELDS, 0.0))
    for path in _log_files(event_dir):
        with open(path, encoding="utf-8") as f:
            for line in f:
                if '"SparkListenerJobStart"' in line:
                    ev = json.loads(line)
                    props = ev.get("Properties") or {}
                    group = props.get("spark.jobGroup.id") or ""
                    t = totals[group]
                    t["jobs"] += 1
                    for sid in ev.get("Stage IDs") or ():
                        stage_group[int(sid)] = group
                elif '"SparkListenerStageCompleted"' in line:
                    si = json.loads(line).get("Stage Info") or {}
                    totals[stage_group.get(int(si.get("Stage ID", -1)), "")][
                        "stages"] += 1
                elif '"SparkListenerTaskEnd"' in line:
                    ev = json.loads(line)
                    _add_task(totals[stage_group.get(int(ev.get("Stage ID", -1)),
                                                     "")], ev)
    return dict(totals)


def _add_task(t: dict[str, float], ev: dict) -> None:
    info = ev.get("Task Info") or {}
    m = ev.get("Task Metrics") or {}
    swm = m.get("Shuffle Write Metrics") or {}
    srm = m.get("Shuffle Read Metrics") or {}
    run_ms = float(m.get("Executor Run Time", 0))
    # the Spark UI's scheduler-delay formula: wall time of the task minus
    # everything the executor accounts for
    wall_ms = float(info.get("Finish Time", 0)) - float(info.get("Launch Time", 0))
    delay_ms = max(0.0, wall_ms - run_ms
                   - float(m.get("Executor Deserialize Time", 0))
                   - float(m.get("Result Serialization Time", 0))
                   - float(info.get("Getting Result Time", 0)))
    t["tasks"] += 1
    t["executor_cpu_s"] += float(m.get("Executor CPU Time", 0)) / 1e9
    t["executor_run_s"] += run_ms / 1e3
    t["gc_s"] += float(m.get("JVM GC Time", 0)) / 1e3
    t["scheduler_delay_s"] += delay_ms / 1e3
    t["shuffle_write_mb"] += float(swm.get("Shuffle Bytes Written", 0)) / 1e6
    t["shuffle_read_mb"] += (float(srm.get("Remote Bytes Read", 0))
                             + float(srm.get("Local Bytes Read", 0))) / 1e6
    t["spill_mb"] += (float(m.get("Memory Bytes Spilled", 0))
                      + float(m.get("Disk Bytes Spilled", 0))) / 1e6
    t["input_records"] += float((m.get("Input Metrics") or {}).get(
        "Records Read", 0))
    t["output_mb"] += float((m.get("Output Metrics") or {}).get(
        "Bytes Written", 0)) / 1e6


def merge(totals: dict[str, dict[str, float]],
          group: str | None = None) -> dict[str, float]:
    """Sum a group and the groups nested under it (all groups for None)."""
    out = dict.fromkeys(FIELDS, 0.0)
    for g, t in totals.items():
        if group is None or g == group or g.startswith(group + "/"):
            for k in FIELDS:
                out[k] += t[k]
    return out
