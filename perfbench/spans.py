"""Spans for the traced run, folded from Spark's own event log.

The traced session is started with ``spark.eventLog.enabled`` (through the
``extra_conf`` parameter of ``session.get_spark``). Each layer call made by
the benchmark runs under ``sparkContext.setJobGroup(<layer>)``; after the
session stops, every task-end event is attributed to the job group of the
job that submitted its stage, and the task metrics are summed per group.
A span row holds the benchmark-timed wall time next to those sums.
"""

from __future__ import annotations

import json
import time
from collections import defaultdict
from contextlib import contextmanager
from pathlib import Path

# span fields reported as per-layer metrics, with their units
SPAN_UNITS = {"wall_s": "s", "task_s": "s", "shuffle_write_bytes": "bytes",
              "spill_bytes": "bytes"}
SPAN_FIELDS = ("wall_s", "task_s", "cpu_s", "shuffle_read_bytes",
               "shuffle_write_bytes", "spill_bytes", "records_in",
               "records_out", "jobs", "tasks")


class Tracer:
    """Wall-clock spans keyed by job group; task metrics are added later by
    ``fold``."""

    def __init__(self, spark):
        self.spark = spark
        self.walls: dict[str, float] = defaultdict(float)
        self.order: list[str] = []

    @contextmanager
    def span(self, name: str):
        sc = self.spark.sparkContext
        sc.setJobGroup(name, name)
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.walls[name] += time.perf_counter() - t0
            if name not in self.order:
                self.order.append(name)
            sc.setJobGroup("untraced", "benchmark bookkeeping")

    def fold(self, events_dir: Path) -> dict[str, dict]:
        groups = fold_event_log(events_dir)
        rows = {}
        for name in self.order:
            row = {k: 0 for k in SPAN_FIELDS}
            row.update(groups.get(name, {}))
            row["wall_s"] = self.walls[name]
            rows[name] = row
        return rows


def fold_event_log(events_dir: Path) -> dict[str, dict]:
    """Sum task metrics per job group over every event-log file in
    ``events_dir`` (one file per traced session)."""
    acc: dict[str, dict] = defaultdict(lambda: defaultdict(float))
    for path in sorted(Path(events_dir).iterdir()):
        stage_group: dict[int, str] = {}
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    group = props.get("spark.jobGroup.id") or "untraced"
                    acc[group]["jobs"] += 1
                    for sid in ev.get("Stage IDs", []):
                        stage_group.setdefault(sid, group)
                elif kind == "SparkListenerTaskEnd":
                    group = stage_group.get(ev.get("Stage ID"), "untraced")
                    m = ev.get("Task Metrics") or {}
                    a = acc[group]
                    sr = m.get("Shuffle Read Metrics") or {}
                    sw = m.get("Shuffle Write Metrics") or {}
                    inp = m.get("Input Metrics") or {}
                    out = m.get("Output Metrics") or {}
                    a["tasks"] += 1
                    a["task_s"] += m.get("Executor Run Time", 0) / 1e3
                    a["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                    a["shuffle_read_bytes"] += (sr.get("Remote Bytes Read", 0)
                                                + sr.get("Local Bytes Read", 0))
                    a["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
                    a["spill_bytes"] += (m.get("Disk Bytes Spilled", 0)
                                         + m.get("Memory Bytes Spilled", 0))
                    a["records_in"] += (inp.get("Records Read", 0)
                                        + sr.get("Total Records Read", 0))
                    a["records_out"] += (out.get("Records Written", 0)
                                         + sw.get("Shuffle Records Written", 0))
    return {g: dict(v) for g, v in acc.items()}
