"""Event-log parser test over a small captured log.

``fixtures/eventlog_small.jsonl`` holds the job-start, task-end and job-end
events of a real Spark 4.1 event log (``local[2]``, AQE off, 2 shuffle
partitions).  The session ran four actions:

- untagged: write ``range(0, 100, numPartitions=2)`` as parquet;
- ``scan``: ``count()`` of that 100-row table;
- ``shuffle``: ``range(0, 1000, numPartitions=3).groupBy(id % 10).count()``
  collected;
- untagged: ``range(0, 10).count()``.

Run: ``python3 -m pytest perfbench/test_eventlog.py -q``.
"""

from __future__ import annotations

import json
import os

from eventlog import LayerCounts, parse_lines, parse_log

FIXTURE = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                       "fixtures", "eventlog_small.jsonl")


def _events():
    with open(FIXTURE) as f:
        return [json.loads(line) for line in f if line.strip()]


def test_sums_task_metrics_per_description():
    counts = parse_log(FIXTURE)
    assert set(counts) == {"scan", "shuffle", ""}

    scan = counts["scan"]
    assert scan.input_records == 100        # the table's rows
    assert scan.input_bytes > 0

    shuffle = counts["shuffle"]
    assert shuffle.jobs == 1
    assert shuffle.tasks == 3 + 2            # map tasks + reduce tasks
    assert shuffle.input_records == 1000     # the range's rows
    assert shuffle.shuffle_write_bytes == shuffle.shuffle_read_bytes > 0
    assert shuffle.spill_bytes == 0

    untagged = counts[""]
    assert untagged.jobs == 2
    assert untagged.output_records == 100    # the parquet write
    assert untagged.input_records == 100 + 10


def test_totals_match_the_raw_events():
    """Every task-end event lands in exactly one description, so the
    totals over descriptions equal the totals over the raw events."""
    events = _events()
    counts = parse_log(FIXTURE)
    task_ends = [e for e in events if e["Event"] == "SparkListenerTaskEnd"]
    assert sum(c.tasks for c in counts.values()) == len(task_ends)
    written = sum(e["Task Metrics"]["Shuffle Write Metrics"]["Shuffle Bytes Written"]
                  for e in task_ends)
    assert sum(c.shuffle_write_bytes for c in counts.values()) == written
    gc = sum(e["Task Metrics"]["JVM GC Time"] for e in task_ends)
    assert sum(c.gc_ms for c in counts.values()) == gc


def test_task_skew_and_unknown_events():
    c = LayerCounts(task_ms=[10, 10, 40])
    assert c.task_skew == 4.0
    assert LayerCounts().task_skew == 0.0
    lines = ['{"Event": "SparkListenerLogStart", "Spark Version": "4.1.2"}',
             "", '{"Event": "SparkListenerApplicationEnd", "Timestamp": 1}']
    assert parse_lines(lines) == {}
