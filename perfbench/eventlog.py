"""Fold a Spark event log into one row of counters per job group.

Stdlib ``json`` only.  The benchmark sets a job group around every call
it makes into a layer, so the group id names the span the work belongs
to.  A stage belongs to the group of the job that submitted it, and a
task to its stage.  The log must be uncompressed and not rolling
(``spark.eventLog.compress=false``, ``spark.eventLog.rolling.enabled=
false``), and complete: read it after the session has stopped.
"""

from __future__ import annotations

import json
from collections import defaultdict

GROUP_KEY = "spark.jobGroup.id"


class GroupStats:
    __slots__ = (
        "jobs", "stages", "tasks", "executor_cpu_s", "gc_s",
        "shuffle_bytes", "spill_bytes", "peak_exec_mem_bytes",
        "bytes_read", "task_s_by_stage",
    )

    def __init__(self):
        self.jobs = 0
        self.stages = 0
        self.tasks = 0
        self.executor_cpu_s = 0.0
        self.gc_s = 0.0
        self.shuffle_bytes = 0
        self.spill_bytes = 0
        self.peak_exec_mem_bytes = 0
        self.bytes_read = 0
        self.task_s_by_stage: dict[int, list[float]] = defaultdict(list)

    def task_tail_ratio(self) -> float:
        """max / median task time in the stage with the most tasks."""
        if not self.task_s_by_stage:
            return 0.0
        widest = max(
            self.task_s_by_stage.items(), key=lambda kv: (len(kv[1]), -kv[0])
        )[1]
        times = sorted(widest)
        mid = times[len(times) // 2]
        return times[-1] / mid if mid > 0 else 0.0


def fold(path: str) -> dict[str, GroupStats]:
    """Event log file -> {job group id: GroupStats}.  Work run outside
    any job group is filed under the empty string."""
    stage_group: dict[int, str] = {}
    groups: dict[str, GroupStats] = defaultdict(GroupStats)
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                group = (ev.get("Properties") or {}).get(GROUP_KEY) or ""
                groups[group].jobs += 1
            elif kind == "SparkListenerStageSubmitted":
                group = (ev.get("Properties") or {}).get(GROUP_KEY) or ""
                stage_id = ev["Stage Info"]["Stage ID"]
                if stage_id not in stage_group:
                    stage_group[stage_id] = group
                    groups[group].stages += 1
            elif kind == "SparkListenerTaskEnd":
                _add_task(groups[stage_group.get(ev["Stage ID"], "")], ev)
    return dict(groups)


def _add_task(g: GroupStats, ev: dict) -> None:
    g.tasks += 1
    info = ev.get("Task Info") or {}
    if info.get("Finish Time") and info.get("Launch Time"):
        g.task_s_by_stage[ev["Stage ID"]].append(
            (info["Finish Time"] - info["Launch Time"]) / 1000.0
        )
    m = ev.get("Task Metrics")
    if not m:
        return
    g.executor_cpu_s += (
        m.get("Executor CPU Time", 0) + m.get("Executor Deserialize CPU Time", 0)
    ) / 1e9
    g.gc_s += m.get("JVM GC Time", 0) / 1000.0
    g.shuffle_bytes += (m.get("Shuffle Write Metrics") or {}).get(
        "Shuffle Bytes Written", 0
    )
    g.spill_bytes += m.get("Memory Bytes Spilled", 0) + m.get(
        "Disk Bytes Spilled", 0
    )
    g.peak_exec_mem_bytes = max(
        g.peak_exec_mem_bytes, m.get("Peak Execution Memory", 0)
    )
    g.bytes_read += (m.get("Input Metrics") or {}).get("Bytes Read", 0)


def merge(parts: list[GroupStats]) -> GroupStats:
    out = GroupStats()
    for p in parts:
        out.jobs += p.jobs
        out.stages += p.stages
        out.tasks += p.tasks
        out.executor_cpu_s += p.executor_cpu_s
        out.gc_s += p.gc_s
        out.shuffle_bytes += p.shuffle_bytes
        out.spill_bytes += p.spill_bytes
        out.peak_exec_mem_bytes = max(
            out.peak_exec_mem_bytes, p.peak_exec_mem_bytes
        )
        out.bytes_read += p.bytes_read
        for sid, ts in p.task_s_by_stage.items():
            out.task_s_by_stage[sid].extend(ts)
    return out
