"""Tracing for the benchmark's traced runs.

Spans are recorded in memory at each layer boundary the benchmark calls
into (layer, start, end, parent span, query or batch id) and written out
when the run ends. Spans read back from Spark's own instruments (the
Catalyst planning tracker, streaming progress, event-log jobs) are added
with their recorded times. The event log written during the run is
parsed here into per-job-group task metrics.
"""

from __future__ import annotations

import contextlib
import json
import os
import time
from collections import defaultdict


class Tracer:
    """Span recorder. Disabled, ``span`` is a no-op context manager."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, layer: str, op: str | None = None):
        if not self.enabled:
            yield None
            return
        rec = self.add(layer, time.time(), None, op)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()

    def add(self, layer: str, start: float, end: float | None, op: str | None, parent: int | None = -1) -> dict:
        """Record a span; ``parent=-1`` means the innermost open span."""
        if parent == -1:
            parent = self._stack[-1] if self._stack else None
        rec = {"id": len(self.spans), "layer": layer, "op": op, "parent": parent, "start": start, "end": end}
        self.spans.append(rec)
        return rec

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for rec in self.spans:
                f.write(json.dumps(rec) + "\n")


def catalyst_phases(jdf_query_execution) -> dict[str, tuple[float, float]]:
    """{phase: (start_s, end_s)} from a QueryExecution's planning tracker
    (phases ``analysis``, ``optimization``, ``planning``)."""
    out = {}
    it = jdf_query_execution.tracker().phases().iterator()
    while it.hasNext():
        kv = it.next()
        out[kv._1()] = (kv._2().startTimeMs() / 1000.0, kv._2().endTimeMs() / 1000.0)
    return out


_TASK_FIELDS = {
    "run_ms": ("Executor Run Time",),
    "gc_ms": ("JVM GC Time",),
    "shuffle_write_bytes": ("Shuffle Write Metrics", "Shuffle Bytes Written"),
    "shuffle_read_remote": ("Shuffle Read Metrics", "Remote Bytes Read"),
    "shuffle_read_local": ("Shuffle Read Metrics", "Local Bytes Read"),
    "spill_bytes": ("Disk Bytes Spilled",),
    "input_bytes": ("Input Metrics", "Bytes Read"),
}


def _group_key(props: dict) -> str | None:
    batch = props.get("streaming.sql.batchId")
    if batch is not None:
        return f"batch:{props.get('sql.streaming.queryId')}:{batch}"
    return props.get("spark.jobGroup.id")


def read_event_log(log_dir: str) -> dict[str, dict]:
    """Per job group (a query op's ``<op>:build`` / ``<op>:run`` group, or
    ``batch:<query id>:<batch id>`` for a micro-batch): jobs, stages, job intervals
    (epoch seconds) and summed task metrics."""
    groups: dict[str, dict] = defaultdict(lambda: {"jobs": 0, "stages": 0, "intervals": [], **{k: 0 for k in _TASK_FIELDS}})
    stage_group: dict[int, str] = {}
    job_group: dict[int, str] = {}
    job_start: dict[int, float] = {}
    for name in os.listdir(log_dir):
        with open(os.path.join(log_dir, name)) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    key = _group_key(ev.get("Properties") or {})
                    if key is not None:
                        job_group[ev["Job ID"]] = key
                        job_start[ev["Job ID"]] = ev["Submission Time"] / 1000.0
                        groups[key]["jobs"] += 1
                elif kind == "SparkListenerJobEnd" and ev["Job ID"] in job_group:
                    jid = ev["Job ID"]
                    groups[job_group[jid]]["intervals"].append((job_start[jid], ev["Completion Time"] / 1000.0))
                elif kind == "SparkListenerStageSubmitted":
                    key = _group_key(ev.get("Properties") or {})
                    if key is not None:
                        stage_group[ev["Stage Info"]["Stage ID"]] = key
                        groups[key]["stages"] += 1
                elif kind == "SparkListenerTaskEnd" and ev.get("Stage ID") in stage_group:
                    g = groups[stage_group[ev["Stage ID"]]]
                    metrics = ev.get("Task Metrics") or {}
                    for field, path in _TASK_FIELDS.items():
                        v = metrics
                        for p in path:
                            v = v.get(p, {}) if isinstance(v, dict) else {}
                        if isinstance(v, (int, float)):
                            g[field] += v
    return dict(groups)


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Seconds of [lo, hi] covered by the union of ``intervals``."""
    total, cur = 0.0, lo
    for s, e in sorted(intervals):
        s, e = max(s, cur), min(e, hi)
        if e > s:
            total += e - s
            cur = e
    return total
