"""Per-job-group totals from an uncompressed Spark event log.

The benchmark tags every Spark job it wants attributed with
``SparkContext.setJobGroup``; Spark copies the group into the properties of
each job and stage it submits. This module folds the log's JSON lines into
one :class:`GroupStats` per group id: jobs run, executor CPU, shuffle bytes
written, bytes spilled to disk, and task durations (for skew).

Spark 4 writes a rolling log: a directory ``eventlog_v2_<app>`` of parts
``events_<n>_<app>``.
"""

from __future__ import annotations

import json
import os
import statistics
from dataclasses import dataclass, field
from typing import Iterable, Iterator

GROUP_KEY = "spark.jobGroup.id"


@dataclass
class GroupStats:
    jobs: int = 0
    exec_cpu_s: float = 0.0
    shuffle_write_bytes: int = 0
    spill_disk_bytes: int = 0
    task_ms: list[int] = field(default_factory=list)

    def add(self, other: "GroupStats") -> None:
        self.jobs += other.jobs
        self.exec_cpu_s += other.exec_cpu_s
        self.shuffle_write_bytes += other.shuffle_write_bytes
        self.spill_disk_bytes += other.spill_disk_bytes
        self.task_ms += other.task_ms

    @property
    def task_skew(self) -> float:
        """Longest task over the median task (1.0 for one task or none)."""
        if len(self.task_ms) < 2:
            return 1.0
        return max(self.task_ms) / max(statistics.median(self.task_ms), 1.0)


def _files(path: str) -> list[str]:
    names = [n for n in os.listdir(path) if n.startswith("events_")]
    # events_<index>_<app>: order by the numeric index, not the string
    return [os.path.join(path, n)
            for n in sorted(names, key=lambda n: int(n.split("_")[1]))]


def read_events(path: str) -> Iterator[dict]:
    for fname in _files(path):
        with open(fname) as fh:
            for line in fh:
                line = line.strip()
                if line:
                    yield json.loads(line)


def find_log(log_dir: str) -> str:
    """The single application log Spark wrote under ``spark.eventLog.dir``."""
    entries = [e for e in os.listdir(log_dir) if not e.startswith(".")]
    if len(entries) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, found {entries}")
    return os.path.join(log_dir, entries[0])


def group_stats(events: Iterable[dict]) -> dict[str, GroupStats]:
    """Fold events into per-group totals; untagged work is not reported."""
    stage_group: dict[int, str] = {}
    out: dict[str, GroupStats] = {}
    for ev in events:
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            group = (ev.get("Properties") or {}).get(GROUP_KEY)
            if group is None:
                continue
            out.setdefault(group, GroupStats()).jobs += 1
            for sid in ev.get("Stage IDs", ()):
                stage_group.setdefault(sid, group)
        elif kind == "SparkListenerStageSubmitted":
            group = (ev.get("Properties") or {}).get(GROUP_KEY)
            if group is not None:
                stage_group[ev["Stage Info"]["Stage ID"]] = group
        elif kind == "SparkListenerTaskEnd":
            group = stage_group.get(ev["Stage ID"])
            if group is None:
                continue
            st = out.setdefault(group, GroupStats())
            info = ev["Task Info"]
            st.task_ms.append(info["Finish Time"] - info["Launch Time"])
            m = ev.get("Task Metrics")
            if not m:
                continue  # failed or killed task: no metrics were reported
            st.exec_cpu_s += m.get("Executor CPU Time", 0) / 1e9
            st.shuffle_write_bytes += (m.get("Shuffle Write Metrics") or {}).get(
                "Shuffle Bytes Written", 0)
            st.spill_disk_bytes += m.get("Disk Bytes Spilled", 0)
    return out
