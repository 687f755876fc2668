"""Spark event log → per-layer table.

The benchmark tags every public call with
``sparkContext.setJobGroup(f"{workload}:{layer}", ...)`` and runs the traced
repetition with an uncompressed, non-rolling event log. This module reads
that JSON-lines file back and attributes each job and stage to its layer
through the job group (``spark.jobGroup.id`` in the job and stage
properties). Stage totals are summed from the successful tasks'
``Task Metrics``, which also gives the per-task times behind the skew ratio.

A stage that writes shuffle output is a *map* stage (message generation in
a superstep); every other stage is a *result* stage (shuffle read and
combine, checkpoint or write).
"""

from __future__ import annotations

import json
import statistics
from dataclasses import dataclass, field


@dataclass
class Stage:
    name: str = ""
    group: str | None = None
    executor_ms: float = 0.0
    shuffle_write: int = 0
    shuffle_read: int = 0
    spill: int = 0
    task_ms: list[float] = field(default_factory=list)

    @property
    def is_map(self) -> bool:
        return self.shuffle_write > 0

    def skew(self) -> float | None:
        """Max over median task executor time, for stages of 2+ tasks."""
        if len(self.task_ms) < 2:
            return None
        return max(self.task_ms) / max(statistics.median(self.task_ms), 1.0)


@dataclass
class Job:
    group: str | None
    start_ms: int
    end_ms: int | None = None
    stage_ids: list[int] = field(default_factory=list)


@dataclass
class EventLog:
    jobs: dict[int, Job]
    stages: dict[int, Stage]

    def jobs_in(self, group: str) -> list[Job]:
        return [j for j in self.jobs.values() if j.group == group and j.end_ms]

    def stages_in(self, group: str) -> list[Stage]:
        return [s for s in self.stages.values() if s.group == group]


def parse(path: str) -> EventLog:
    jobs: dict[int, Job] = {}
    stages: dict[int, Stage] = {}

    def stage(sid: int) -> Stage:
        return stages.setdefault(sid, Stage())

    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                jobs[ev["Job ID"]] = Job(group, ev["Submission Time"], None, ev["Stage IDs"])
                for sid in ev["Stage IDs"]:
                    if stage(sid).group is None:
                        stage(sid).group = group
            elif kind == "SparkListenerJobEnd":
                jobs[ev["Job ID"]].end_ms = ev["Completion Time"]
            elif kind == "SparkListenerStageSubmitted":
                info = ev["Stage Info"]
                st = stage(info["Stage ID"])
                st.name = info["Stage Name"]
                group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                if group is not None:
                    st.group = group
            elif kind == "SparkListenerTaskEnd":
                if ev["Task End Reason"]["Reason"] != "Success":
                    continue
                m = ev.get("Task Metrics") or {}
                st = stage(ev["Stage ID"])
                run_ms = float(m.get("Executor Run Time", 0))
                st.executor_ms += run_ms
                st.task_ms.append(run_ms)
                sw = m.get("Shuffle Write Metrics") or {}
                sr = m.get("Shuffle Read Metrics") or {}
                st.shuffle_write += int(sw.get("Shuffle Bytes Written", 0))
                st.shuffle_read += int(sr.get("Remote Bytes Read", 0)) + int(
                    sr.get("Local Bytes Read", 0)
                )
                st.spill += int(m.get("Memory Bytes Spilled", 0)) + int(
                    m.get("Disk Bytes Spilled", 0)
                )
    return EventLog(jobs, stages)


def union_ms(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of ``(start, end)`` intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def covered_ms(log: EventLog, group: str, start_ms: float, end_ms: float) -> tuple[float, int]:
    """Union of the group's job intervals clipped to ``[start_ms, end_ms]``,
    and the number of those jobs."""
    ivs = []
    for j in log.jobs_in(group):
        s, e = max(j.start_ms, start_ms), min(j.end_ms, end_ms)
        if e > s:
            ivs.append((s, e))
    return union_ms(ivs), len(ivs)


def layer_row(log: EventLog, group: str) -> dict:
    """Executor time, shuffle bytes, spill and skew of one job group."""
    sts = log.stages_in(group)
    maps = [s for s in sts if s.is_map]
    results = [s for s in sts if not s.is_map]
    skews = [k for k in (s.skew() for s in results if s.shuffle_read > 0) if k is not None]
    return {
        "jobs": len(log.jobs_in(group)),
        "stages": len(sts),
        "executor_ms": sum(s.executor_ms for s in sts),
        "map_executor_ms": sum(s.executor_ms for s in maps),
        "result_executor_ms": sum(s.executor_ms for s in results),
        "shuffle_write_bytes": sum(s.shuffle_write for s in sts),
        "shuffle_read_bytes": sum(s.shuffle_read for s in sts),
        "spill_bytes": sum(s.spill for s in sts),
        "task_skew": statistics.median(skews) if skews else 1.0,
    }


def write_jobs_ms(log: EventLog, group: str) -> float:
    """Wall time of the group's jobs that write parquet (durable checkpoints)."""
    total = 0.0
    for j in log.jobs_in(group):
        names = [log.stages[s].name for s in j.stage_ids if s in log.stages]
        if any(n.startswith("parquet at") for n in names):
            total += j.end_ms - j.start_ms
    return total
