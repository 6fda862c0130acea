"""Reader for Spark's stock JSON event log (uncompressed).

Jobs and stages carry the job group that was set when they were submitted
(``spark.jobGroup.id`` in their properties); task-end events carry the
task's metrics. ``read_groups`` folds the log into one ``GroupStats`` per
job group.
"""

from __future__ import annotations

import json
import statistics
from dataclasses import dataclass, field, fields

GROUP_KEY = "spark.jobGroup.id"


@dataclass
class GroupStats:
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    run_ms: float = 0.0
    cpu_ms: float = 0.0
    deser_ms: float = 0.0
    gc_ms: float = 0.0
    python_ms: float = 0.0
    shuffle_read_bytes: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    input_bytes: int = 0
    output_bytes: int = 0
    #: stage id → task durations (ms, launch to finish)
    task_ms: dict[int, list[float]] = field(default_factory=dict)

    def add(self, other: "GroupStats") -> None:
        for f in fields(self):
            if f.name != "task_ms":
                setattr(self, f.name, getattr(self, f.name) + getattr(other, f.name))
        for st, d in other.task_ms.items():
            self.task_ms.setdefault(st, []).extend(d)

    @property
    def task_seconds(self) -> float:
        return sum(sum(d) for d in self.task_ms.values()) / 1000.0

    def max_over_median(self) -> float:
        """max ÷ median task duration in the stage with the most task time
        (the stage whose balance decides the wall time); 0 without tasks."""
        if not self.task_ms:
            return 0.0
        d = max(self.task_ms.values(), key=sum)
        med = statistics.median(d)
        return max(d) / med if med > 0 else 0.0


def _group(props: dict | None) -> str | None:
    return (props or {}).get(GROUP_KEY)


def read_groups(path: str) -> dict[str, GroupStats]:
    """Job group → its stats. Jobs and stages submitted without a group are
    filed under the empty string."""
    groups: dict[str, GroupStats] = {}
    stage_group: dict[int, str] = {}

    def g(name: str | None) -> GroupStats:
        return groups.setdefault(name or "", GroupStats())

    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                g(_group(ev.get("Properties"))).jobs += 1
            elif kind == "SparkListenerStageSubmitted":
                sid = ev["Stage Info"]["Stage ID"]
                name = _group(ev.get("Properties")) or ""
                stage_group[sid] = name
                g(name).stages += 1
            elif kind == "SparkListenerTaskEnd":
                sid = ev["Stage ID"]
                st = g(stage_group.get(sid))
                info = ev.get("Task Info", {})
                m = ev.get("Task Metrics") or {}
                st.tasks += 1
                run = float(m.get("Executor Run Time", 0))
                cpu = m.get("Executor CPU Time", 0) / 1e6
                deser = float(m.get("Executor Deserialize Time", 0))
                st.run_ms += run
                st.cpu_ms += cpu
                st.deser_ms += deser
                st.python_ms += max(0.0, run - cpu - deser)
                st.gc_ms += m.get("JVM GC Time", 0)
                sr = m.get("Shuffle Read Metrics", {})
                st.shuffle_read_bytes += sr.get("Remote Bytes Read", 0) + sr.get(
                    "Local Bytes Read", 0)
                st.shuffle_write_bytes += m.get("Shuffle Write Metrics", {}).get(
                    "Shuffle Bytes Written", 0)
                st.spill_bytes += m.get("Disk Bytes Spilled", 0)
                st.input_bytes += m.get("Input Metrics", {}).get("Bytes Read", 0)
                st.output_bytes += m.get("Output Metrics", {}).get("Bytes Written", 0)
                dur = info.get("Finish Time", 0) - info.get("Launch Time", 0)
                st.task_ms.setdefault(sid, []).append(float(max(dur, 0)))
    return groups
