"""Per-job-group engine metrics from a Spark event log.

The traced run enables the event log (``spark.eventLog.compress=false``) and
sets a job group around each layer call. After the session stops, this
module reads every event file under the log directory (Spark 4 writes a
rolling ``eventlog_v2_*/events_<n>_*`` directory; a single-file log works
too) and aggregates ``SparkListenerTaskEnd`` metrics by the
``spark.jobGroup.id`` of the job whose stage ran the task.
"""

from __future__ import annotations

import json
import os
import re
import statistics
from dataclasses import dataclass, field


@dataclass
class GroupMetrics:
    jobs: int = 0
    tasks: int = 0
    task_cpu_s: float = 0.0
    gc_s: float = 0.0
    shuffle_write_mb: float = 0.0
    spill_mb: float = 0.0
    # stage id -> task durations (ms), for task_skew
    stage_task_ms: dict[int, list[int]] = field(default_factory=dict)

    @property
    def task_skew(self) -> float:
        """Largest per-stage ratio of the slowest task's duration to the
        median task duration, over stages with at least two tasks; 1.0
        when no stage has two tasks, 0.0 when the group ran no task."""
        ratios = [
            max(ms) / max(statistics.median(ms), 1.0)
            for ms in self.stage_task_ms.values()
            if len(ms) >= 2
        ]
        return max(ratios, default=1.0 if self.tasks else 0.0)


def event_files(log_dir: str) -> list[str]:
    """Event files under ``log_dir`` in write order (rolling index, then name)."""
    files = []
    for dirpath, _, names in os.walk(log_dir):
        for n in names:
            if n.startswith("appstatus") or n.startswith("."):
                continue
            files.append(os.path.join(dirpath, n))

    def order(path: str):
        m = re.match(r"events_(\d+)_", os.path.basename(path))
        return (os.path.dirname(path), int(m.group(1)) if m else 0, path)

    return sorted(files, key=order)


def events(log_dir: str):
    for path in event_files(log_dir):
        with open(path) as f:
            for line in f:
                line = line.strip()
                if line:
                    yield json.loads(line)


def aggregate(log_dir: str) -> dict[str, GroupMetrics]:
    """Job group id -> metrics of its jobs and their tasks. Jobs without a
    group are collected under ``""``."""
    stage_group: dict[int, str] = {}
    out: dict[str, GroupMetrics] = {}
    for ev in events(log_dir):
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            group = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
            out.setdefault(group, GroupMetrics()).jobs += 1
            for sid in ev.get("Stage IDs", []):
                stage_group.setdefault(sid, group)
        elif kind == "SparkListenerTaskEnd":
            group = stage_group.get(ev.get("Stage ID"), "")
            g = out.setdefault(group, GroupMetrics())
            tm = ev.get("Task Metrics") or {}
            info = ev.get("Task Info") or {}
            g.tasks += 1
            g.task_cpu_s += tm.get("Executor CPU Time", 0) / 1e9
            g.gc_s += tm.get("JVM GC Time", 0) / 1e3
            g.shuffle_write_mb += (
                (tm.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0) / 2**20
            )
            g.spill_mb += tm.get("Disk Bytes Spilled", 0) / 2**20
            if "Finish Time" in info and "Launch Time" in info:
                g.stage_task_ms.setdefault(ev["Stage ID"], []).append(
                    info["Finish Time"] - info["Launch Time"]
                )
    return out
