"""Spans around the benchmark's calls into each layer, and the per-layer
totals Spark's own event log records for the job group of each span.

A span is (name, start, end, parent). Layer spans set the Spark job group to
the layer name, so every job a layer runs, including the eager
`localCheckpoint`/`count` actions inside the program, is attributed to it.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import time

LAYER_FIELDS = ("wall_s", "jobs", "tasks", "task_cpu_s", "gc_s",
                "shuffle_read_mb", "shuffle_write_mb", "spill_mb",
                "input_rows", "output_rows")
PIPELINE_FIELDS = ("wall_s", "jobs", "task_cpu_s", "corpus_scans")

_MB = 1024.0 * 1024.0


class Tracer:
    """Spans kept in memory; `spans()` returns them for the trace file."""

    def __init__(self, sc=None):
        self._sc = sc
        self._spans: list[dict] = []
        self._stack: list[str] = []

    @contextlib.contextmanager
    def span(self, name: str, group: str | None = None):
        """A span; with `group`, the Spark jobs started inside it carry
        that job group (groups do not nest)."""
        parent = self._stack[-1] if self._stack else None
        if group is not None and self._sc is not None:
            self._sc.setJobGroup(group, name)
        self._stack.append(name)
        start = time.time()
        try:
            yield
        finally:
            end = time.time()
            self._stack.pop()
            self._spans.append({"name": name, "start": start, "end": end,
                                "parent": parent, "group": group})
            if group is not None and self._sc is not None:
                self._sc.setLocalProperty("spark.jobGroup.id", None)

    def spans(self) -> list[dict]:
        return sorted(self._spans, key=lambda s: s["start"])

    def wall(self, group: str) -> float:
        return sum(s["end"] - s["start"] for s in self._spans
                   if s["group"] == group)


def read_event_log(log_dir: str) -> list[dict]:
    files = sorted(f for f in glob.glob(os.path.join(log_dir, "*"))
                   if not os.path.basename(f).startswith("."))
    if len(files) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, "
                           f"found {files}")
    with open(files[0]) as f:
        return [json.loads(line) for line in f]


def _plan_nodes(node):
    yield node
    for child in node.get("children", ()):
        yield from _plan_nodes(child)


def group_totals(events: list[dict], input_marker: str) -> dict[str, dict]:
    """Per job group: jobs, tasks, task CPU, GC, shuffle, spill, rows read
    and written, and rows read by scans whose location contains
    `input_marker` (the transcript input)."""
    stage_group: dict[int, str] = {}
    totals: dict[str, dict] = {}
    scan_rows_ids: set[int] = set()

    def tot(group):
        return totals.setdefault(group, {
            "jobs": 0, "tasks": 0, "task_cpu_s": 0.0, "gc_s": 0.0,
            "shuffle_read_mb": 0.0, "shuffle_write_mb": 0.0, "spill_mb": 0.0,
            "input_rows": 0, "output_rows": 0, "input_scan_rows": 0})

    for e in events:
        kind = e["Event"]
        if kind == "SparkListenerJobStart":
            group = (e.get("Properties") or {}).get("spark.jobGroup.id", "")
            tot(group)["jobs"] += 1
            for sid in e["Stage IDs"]:
                stage_group.setdefault(sid, group)
        elif kind.endswith("SparkListenerSQLExecutionStart") \
                or kind.endswith("SparkListenerSQLAdaptiveExecutionUpdate"):
            for n in _plan_nodes(e["sparkPlanInfo"]):
                loc = (n.get("metadata") or {}).get("Location", "")
                if n["nodeName"].startswith("Scan") and input_marker in loc:
                    scan_rows_ids.update(
                        m["accumulatorId"] for m in n["metrics"]
                        if m["name"] == "number of output rows")
        elif kind == "SparkListenerTaskEnd":
            t = tot(stage_group.get(e["Stage ID"], ""))
            t["tasks"] += 1
            m = e.get("Task Metrics") or {}
            if m:
                sr, sw = m["Shuffle Read Metrics"], m["Shuffle Write Metrics"]
                t["task_cpu_s"] += m["Executor CPU Time"] / 1e9
                t["gc_s"] += m["JVM GC Time"] / 1e3
                t["shuffle_read_mb"] += (sr["Remote Bytes Read"]
                                         + sr["Local Bytes Read"]) / _MB
                t["shuffle_write_mb"] += sw["Shuffle Bytes Written"] / _MB
                t["spill_mb"] += m["Disk Bytes Spilled"] / _MB
                t["input_rows"] += m["Input Metrics"]["Records Read"]
                t["output_rows"] += m["Output Metrics"]["Records Written"]
            for a in e["Task Info"].get("Accumulables", ()):
                if a["ID"] in scan_rows_ids:
                    t["input_scan_rows"] += int(a["Update"])
    return totals


def layer_metrics(tracer: Tracer, totals: dict[str, dict], layers,
                  pipelines, turns: int) -> dict[str, dict]:
    """`<layer>.<field>` metrics in the benchmark's output form."""
    units = {"wall_s": "s", "task_cpu_s": "s", "gc_s": "s",
             "shuffle_read_mb": "MB", "shuffle_write_mb": "MB",
             "spill_mb": "MB", "corpus_scans": "scans"}
    out = {}
    for group, fields in ([(g, LAYER_FIELDS) for g in layers]
                          + [(g, PIPELINE_FIELDS) for g in pipelines]):
        t = totals.get(group)
        if t is None:
            raise RuntimeError(f"no jobs recorded for layer {group}")
        vals = dict(t, wall_s=tracer.wall(group),
                    corpus_scans=t["input_scan_rows"] / turns)
        for f in fields:
            out[f"{group}.{f}"] = {"value": vals[f],
                                   "unit": units.get(f, "count")}
    return out
