"""Per-job-group counters from Spark's own event log, using only the
stdlib ``json`` module.

The session must write an uncompressed log
(``spark.eventLog.compress=false``: Spark 4 would otherwise write zstd,
which the stdlib cannot read) and, for cached-block sizes,
``spark.eventLog.logBlockUpdates.enabled=true``. Both the single-file
and the rolling (``eventlog_v2_*/events_*``) layouts are read.

Every job carries the job group that was set on the submitting thread
(``spark.jobGroup.id`` in the job's properties); stages and tasks are
attributed to a group through their job.
"""

from __future__ import annotations

import glob
import json
import os
import re
from dataclasses import dataclass, field
from statistics import median


@dataclass
class GroupCounters:
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    shuffle_bytes: int = 0  # shuffle read + shuffle write
    spill_bytes: int = 0  # memory + disk spill
    gc_ms: int = 0
    task_ms: list[int] = field(default_factory=list)
    job_intervals: list[tuple[int, int]] = field(default_factory=list)  # ms

    def busy_ms(self) -> int:
        """Length of the union of this group's job intervals."""
        total, end = 0, None
        for lo, hi in sorted(self.job_intervals):
            if end is None or lo > end:
                total += hi - lo
                end = hi
            elif hi > end:
                total += hi - end
                end = hi
        return total


@dataclass
class EventLog:
    groups: dict[str, GroupCounters]
    cached_bytes_peak: int


def log_files(log_dir: str) -> list[str]:
    """Event-log files under ``log_dir`` in write order."""
    files = []
    for entry in sorted(os.listdir(log_dir)):
        path = os.path.join(log_dir, entry)
        if os.path.isdir(path):  # rolling layout: events_<index>_<app id>
            parts = glob.glob(os.path.join(path, "events_*"))
            files += sorted(
                parts, key=lambda p: int(os.path.basename(p).split("_")[1])
            )
        elif not entry.startswith("."):
            files.append(path)
    return files


def _lines(paths: list[str]):
    for path in paths:
        with open(path, encoding="utf-8") as fh:
            for line in fh:
                if line.strip():
                    yield json.loads(line)


_RDD_BLOCK = re.compile(r"^rdd_\d+_\d+$")


def parse(paths: list[str]) -> EventLog:
    groups: dict[str, GroupCounters] = {}
    stage_group: dict[int, str] = {}
    job_group: dict[int, str] = {}
    job_start: dict[int, int] = {}
    block_bytes: dict[str, int] = {}
    cached = peak = 0
    for ev in _lines(paths):
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
            if group is None:
                continue
            job_id = ev["Job ID"]
            job_group[job_id] = group
            job_start[job_id] = ev["Submission Time"]
            for sid in ev.get("Stage IDs", []):
                stage_group.setdefault(sid, group)
            groups.setdefault(group, GroupCounters()).jobs += 1
        elif kind == "SparkListenerJobEnd":
            job_id = ev["Job ID"]
            if job_id in job_group:
                groups[job_group[job_id]].job_intervals.append(
                    (job_start[job_id], ev["Completion Time"])
                )
        elif kind == "SparkListenerStageCompleted":
            group = stage_group.get(ev["Stage Info"]["Stage ID"])
            if group is not None:
                groups[group].stages += 1
        elif kind == "SparkListenerTaskEnd":
            group = stage_group.get(ev["Stage ID"])
            if group is None:
                continue
            g = groups[group]
            info = ev.get("Task Info") or {}
            m = ev.get("Task Metrics") or {}
            g.tasks += 1
            g.task_ms.append(info.get("Finish Time", 0) - info.get("Launch Time", 0))
            g.gc_ms += m.get("JVM GC Time", 0)
            g.spill_bytes += m.get("Memory Bytes Spilled", 0) + m.get(
                "Disk Bytes Spilled", 0
            )
            rd = m.get("Shuffle Read Metrics") or {}
            wr = m.get("Shuffle Write Metrics") or {}
            g.shuffle_bytes += (
                rd.get("Remote Bytes Read", 0)
                + rd.get("Local Bytes Read", 0)
                + wr.get("Shuffle Bytes Written", 0)
            )
        elif kind == "SparkListenerBlockUpdated":
            info = ev["Block Updated Info"]
            block = info["Block ID"]
            if not _RDD_BLOCK.match(block):
                continue
            size = info.get("Memory Size", 0) + info.get("Disk Size", 0)
            cached += size - block_bytes.get(block, 0)
            block_bytes[block] = size
            peak = max(peak, cached)
    return EventLog(groups, peak)


def span_counters(g: GroupCounters | None, span_s: float) -> dict[str, float]:
    """The per-span counter set; ``span_s`` is the span's wall time."""
    g = g or GroupCounters()
    return {
        "busy_s": span_s,
        "jobs": g.jobs,
        "stages": g.stages,
        "tasks": g.tasks,
        "shuffle_bytes": g.shuffle_bytes,
        "spill_bytes": g.spill_bytes,
        "gc_ms": g.gc_ms,
        "task_ms_max": max(g.task_ms, default=0),
        "task_ms_p50": median(g.task_ms) if g.task_ms else 0,
        "driver_gap_s": max(0.0, span_s - g.busy_ms() / 1000),
    }
