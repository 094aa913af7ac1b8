"""Spans around calls into the program's layers, and the Spark event log
folded into one row per span.

A span labels the Spark jobs it triggers with ``setJobGroup("trace:<name>")``
so that the event log can attribute every task to the layer that caused it.
Spans stay in memory until the run ends.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager
from pathlib import Path

PREFIX = "trace:"


class Tracer:
    def __init__(self, sc) -> None:
        self.sc = sc
        self.spans: list[dict] = []
        self._groups: list[str | None] = []
        # seconds spent in the tracer's own calls (job-group labels and
        # span bookkeeping), i.e. what tracing adds to the traced operation
        self.overhead_s = 0.0

    @contextmanager
    def span(self, name: str, label_jobs: bool = True):
        """Time the block. With ``label_jobs`` the block's Spark jobs are
        grouped under ``name``; otherwise they stay in the enclosing group.
        Yields a dict the caller fills with counts."""
        e0 = time.perf_counter()
        parent = self._groups[-1] if self._groups else None
        group = name if label_jobs else parent
        if label_jobs:
            self.sc.setJobGroup(PREFIX + name, name)
        self._groups.append(group)
        counts: dict = {}
        t0 = time.perf_counter()
        self.overhead_s += t0 - e0
        try:
            yield counts
        finally:
            t1 = time.perf_counter()
            self._groups.pop()
            if label_jobs:
                if parent is None:
                    self.sc.setLocalProperty("spark.jobGroup.id", None)
                else:
                    self.sc.setJobGroup(PREFIX + parent, parent)
            self.spans.append(
                {"name": name, "parent": parent, "start": t0, "end": t1,
                 "counts": counts}
            )
            self.overhead_s += time.perf_counter() - t1

    def total(self, name: str) -> float:
        return sum(s["end"] - s["start"] for s in self.spans if s["name"] == name)


def _group(props: dict | None) -> str | None:
    g = (props or {}).get("spark.jobGroup.id")
    return g[len(PREFIX):] if g and g.startswith(PREFIX) else None


def fold_event_log(log_dir: Path) -> dict[str, dict]:
    """group -> {jobs, task_s, gc_s, shuffle_write_mb, spill_mb, write_mb,
    records_written} over every event log file in ``log_dir``. Tasks of
    jobs outside any span are not counted."""
    rows: dict[str, dict] = {}
    stage_group: dict[int, str] = {}

    def row(g: str) -> dict:
        return rows.setdefault(g, {
            "jobs": 0, "task_s": 0.0, "gc_s": 0.0, "shuffle_write_mb": 0.0,
            "spill_mb": 0.0, "write_mb": 0.0, "records_written": 0,
        })

    for path in sorted(p for p in log_dir.rglob("*") if p.is_file()):
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    g = _group(ev.get("Properties"))
                    if g is not None:
                        row(g)["jobs"] += 1
                        for sid in ev.get("Stage IDs", []):
                            stage_group.setdefault(sid, g)
                elif kind == "SparkListenerStageSubmitted":
                    g = _group(ev.get("Properties"))
                    if g is not None:
                        stage_group[ev["Stage Info"]["Stage ID"]] = g
                elif kind == "SparkListenerTaskEnd":
                    g = stage_group.get(ev.get("Stage ID"))
                    m = ev.get("Task Metrics")
                    if g is None or not m:
                        continue
                    r = row(g)
                    r["task_s"] += m.get("Executor Run Time", 0) / 1e3
                    r["gc_s"] += m.get("JVM GC Time", 0) / 1e3
                    sw = m.get("Shuffle Write Metrics", {})
                    r["shuffle_write_mb"] += sw.get("Shuffle Bytes Written", 0) / 2**20
                    r["spill_mb"] += (
                        m.get("Memory Bytes Spilled", 0)
                        + m.get("Disk Bytes Spilled", 0)
                    ) / 2**20
                    out = m.get("Output Metrics", {})
                    r["write_mb"] += out.get("Bytes Written", 0) / 2**20
                    r["records_written"] += out.get("Records Written", 0)
    return rows
