"""Spans around calls into the engine's layers, and their Spark cost.

A span is one call into a layer (``plans.merge_prepare``, ``plans.lookup``,
...). ``Tracer.span`` times the call in this process and, when tracing is on,
tags every Spark job the call launches with a job group named after the
span. After the application stops, ``stage_costs`` reads Spark's event log
and sums task metrics per job group, so each span gets its executor CPU,
GC, shuffle, spill and task counts without a listener inside the program.
"""

from __future__ import annotations

import glob
import json
import os
import time
from collections import defaultdict
from contextlib import contextmanager

_MB = 1.0 / (1024 * 1024)
# cost name -> unit, for every span
SPAN_COSTS = {"cpu_s": "s", "gc_s": "s", "shuffle_write_mb": "MB", "shuffle_read_mb": "MB",
              "spill_mb": "MB", "tasks": "count", "failed_tasks": "count"}


class Tracer:
    """Records (span, wall seconds) pairs; tags Spark jobs when ``enabled``."""

    def __init__(self, spark, enabled: bool):
        self.spark = spark
        self.enabled = enabled
        self.walls: dict[str, list[float]] = defaultdict(list)
        self._seq = 0
        self._open: list[str] = []

    @contextmanager
    def span(self, name: str):
        """Time one call; a nested span's jobs belong to the innermost span."""
        if self.enabled:
            self._seq += 1
            # one group per call: "<span>#<n>" keeps calls apart in the log
            self._open.append(f"{name}#{self._seq}")
            self._set_group()
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.walls[name].append(time.perf_counter() - t0)
            if self.enabled:
                self._open.pop()
                self._set_group()

    def _set_group(self) -> None:
        sc = self.spark.sparkContext
        if self._open:
            sc.setJobGroup(self._open[-1], self._open[-1], interruptOnCancel=False)
        else:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)


def stage_costs(eventlog_dir: str) -> dict[str, dict[str, float]]:
    """Per-span task-metric totals and call counts from finished event logs.

    Returns ``{span: {"cpu_s": ..., ...}}`` summed over the span's calls.
    Stages are mapped to the job group of the first job that lists them;
    tasks of stages no span launched (warm-up, checks) are ignored.
    """
    stage_group: dict[int, str] = {}
    totals: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
    for path in sorted(glob.glob(os.path.join(eventlog_dir, "*"))):
        if path.endswith(".inprogress") or os.path.isdir(path):
            continue
        with open(path, encoding="utf-8") as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    if not group or "#" not in group:
                        continue
                    for sid in ev.get("Stage IDs", []):
                        stage_group.setdefault(sid, group)
                elif kind == "SparkListenerTaskEnd":
                    group = stage_group.get(ev.get("Stage ID"))
                    if group is None:
                        continue
                    _add_task(totals[group.rsplit("#", 1)[0]], ev)
    return {span: {k: t.get(k, 0.0) for k in SPAN_COSTS} for span, t in totals.items()}


def _add_task(acc: dict, ev: dict) -> None:
    acc["tasks"] += 1
    reason = (ev.get("Task End Reason") or {}).get("Reason", "Success")
    if reason != "Success":
        acc["failed_tasks"] += 1
    m = ev.get("Task Metrics") or {}
    acc["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
    acc["gc_s"] += m.get("JVM GC Time", 0) / 1e3
    sw = m.get("Shuffle Write Metrics") or {}
    acc["shuffle_write_mb"] += sw.get("Shuffle Bytes Written", 0) * _MB
    sr = m.get("Shuffle Read Metrics") or {}
    acc["shuffle_read_mb"] += (
        sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
    ) * _MB
    acc["spill_mb"] += m.get("Disk Bytes Spilled", 0) * _MB
