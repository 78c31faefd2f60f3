"""Spark event-log reader for the traced benchmark run.

Spark writes one JSON object per line (``spark.eventLog.compress=false``).
The benchmark tags every call it times with a job description
(``SparkContext.setJobDescription``); this module sums the task metrics
of every job under each description, so a layer's shuffle, spill, GC and
input counts come from Spark's own accounting, not from the benchmark.
"""

from __future__ import annotations

import json
import statistics
from dataclasses import dataclass, field


@dataclass
class LayerCounts:
    """Task-metric totals of all jobs that ran under one description."""

    jobs: int = 0
    tasks: int = 0
    gc_ms: int = 0
    input_records: int = 0
    input_bytes: int = 0
    output_records: int = 0
    output_bytes: int = 0
    shuffle_write_bytes: int = 0
    shuffle_read_bytes: int = 0
    spill_bytes: int = 0
    task_ms: list[int] = field(default_factory=list)

    @property
    def task_skew(self) -> float:
        """Longest task over the median task (1.0 for a perfectly even stage)."""
        if not self.task_ms:
            return 0.0
        med = statistics.median(self.task_ms)
        return max(self.task_ms) / med if med > 0 else 1.0


def _task_counts(into: LayerCounts, ev: dict) -> None:
    info = ev.get("Task Info", {})
    m = ev.get("Task Metrics") or {}
    inp = m.get("Input Metrics", {})
    out = m.get("Output Metrics", {})
    sw = m.get("Shuffle Write Metrics", {})
    sr = m.get("Shuffle Read Metrics", {})
    into.tasks += 1
    into.gc_ms += m.get("JVM GC Time", 0)
    into.input_records += inp.get("Records Read", 0)
    into.input_bytes += inp.get("Bytes Read", 0)
    into.output_records += out.get("Records Written", 0)
    into.output_bytes += out.get("Bytes Written", 0)
    into.shuffle_write_bytes += sw.get("Shuffle Bytes Written", 0)
    into.shuffle_read_bytes += (sr.get("Remote Bytes Read", 0)
                                + sr.get("Local Bytes Read", 0))
    into.spill_bytes += (m.get("Memory Bytes Spilled", 0)
                         + m.get("Disk Bytes Spilled", 0))
    into.task_ms.append(info.get("Finish Time", 0) - info.get("Launch Time", 0))


def parse_lines(lines) -> dict[str, LayerCounts]:
    """Sum task metrics per job description over an iterable of event-log
    lines.  Jobs without a description are grouped under ``""``."""
    stage_desc: dict[int, str] = {}
    out: dict[str, LayerCounts] = {}
    for line in lines:
        line = line.strip()
        if not line:
            continue
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            desc = (ev.get("Properties") or {}).get("spark.job.description", "")
            out.setdefault(desc, LayerCounts()).jobs += 1
            for sid in ev.get("Stage IDs", []):
                stage_desc[sid] = desc
        elif kind == "SparkListenerTaskEnd":
            desc = stage_desc.get(ev.get("Stage ID"), "")
            _task_counts(out.setdefault(desc, LayerCounts()), ev)
    return out


def parse_log(path: str) -> dict[str, LayerCounts]:
    """Parse one finished, uncompressed application log."""
    with open(path) as f:
        return parse_lines(f)
