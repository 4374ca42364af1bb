"""Tracing for the benchmark's traced run (``--trace 1``).

Spans are recorded from the benchmark's own files, around each call into
an engine layer; the engine itself is not instrumented. Spans stay in
memory and are written out once, when the run ends. The untraced run
(``--trace 0``) never creates a span, so end-to-end numbers carry no
tracing cost.

Three sources feed the per-layer numbers:

* spans (wall time per layer call, with parent links);
* Spark's ``statusTracker`` for jobs, stages and tasks, attributed to one
  invocation through a job group set around it;
* Spark's event log (enabled at session build, traced run only), read
  after the session stops, for executor, shuffle, spill and per-task
  timing, attributed to invocations through the same job groups.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import time
from collections import defaultdict
from contextlib import contextmanager


class Tracer:
    """In-memory span recorder: each span is a dict with ``id``,
    ``parent``, ``name``, wall-clock ``start``/``end`` (epoch seconds, so
    they line up with event-log task times) and free-form ``attrs``."""

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, **attrs):
        rec = {"id": len(self.spans), "parent": self._stack[-1] if self._stack else None,
               "name": name, "start": time.time(), "end": None, "attrs": attrs}
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()

    def children(self, rec: dict, name: str) -> list[dict]:
        return [s for s in self.spans if s["parent"] == rec["id"] and s["name"] == name]

    def write(self, path: str, summary: dict) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({"summary": summary, "spans": self.spans}, f)


def duration(rec: dict) -> float:
    return rec["end"] - rec["start"]


def group_counts(sc, group: str) -> dict:
    """Jobs, stages, tasks and failed tasks Spark ran under ``group``."""
    tracker = sc.statusTracker()
    out = {"jobs": 0, "stages": 0, "tasks": 0, "failed_tasks": 0}
    for job_id in tracker.getJobIdsForGroup(group):
        out["jobs"] += 1
        info = tracker.getJobInfo(job_id)
        for stage_id in (info.stageIds if info else []):
            stage = tracker.getStageInfo(stage_id)
            if stage is None:  # skipped stage: planned, never run
                continue
            out["stages"] += 1
            out["tasks"] += stage.numTasks
            out["failed_tasks"] += stage.numFailedTasks
    return out


def read_event_log(log_dir: str) -> dict[str, dict]:
    """Per job group: summed task metrics, task intervals and per-stage
    task durations, from the uncompressed JSON event log in ``log_dir``."""
    stage_group: dict[int, str] = {}
    groups: dict[str, dict] = defaultdict(lambda: {
        "run_ms": 0, "cpu_ns": 0, "gc_ms": 0, "shuffle_write": 0, "shuffle_read": 0,
        "fetch_wait_ms": 0, "spill": 0, "result_bytes": 0, "intervals": [],
        "stage_tasks": defaultdict(list)})
    for path in glob.glob(os.path.join(log_dir, "*")):
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    if group:
                        for sid in ev.get("Stage IDs", []):
                            stage_group[sid] = group
                elif kind == "SparkListenerTaskEnd":
                    group = stage_group.get(ev.get("Stage ID"))
                    if group is None:
                        continue
                    g = groups[group]
                    info = ev.get("Task Info") or {}
                    m = ev.get("Task Metrics") or {}
                    sr = m.get("Shuffle Read Metrics") or {}
                    sw = m.get("Shuffle Write Metrics") or {}
                    g["run_ms"] += m.get("Executor Run Time", 0)
                    g["cpu_ns"] += m.get("Executor CPU Time", 0)
                    g["gc_ms"] += m.get("JVM GC Time", 0)
                    g["shuffle_write"] += sw.get("Shuffle Bytes Written", 0)
                    g["shuffle_read"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                    g["fetch_wait_ms"] += sr.get("Fetch Wait Time", 0)
                    g["spill"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
                    g["result_bytes"] += m.get("Result Size", 0)
                    start, end = info.get("Launch Time", 0), info.get("Finish Time", 0)
                    g["intervals"].append((start / 1000.0, end / 1000.0))
                    g["stage_tasks"][ev.get("Stage ID")].append(end - start)
    return groups


def busy_seconds(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def stage_skews(stage_tasks: dict[int, list[float]]) -> list[float]:
    """max / median task duration of every stage that ran two or more tasks."""
    out = []
    for durs in stage_tasks.values():
        if len(durs) >= 2:
            med = statistics.median(durs)
            out.append(max(durs) / med if med > 0 else 1.0)
    return out
