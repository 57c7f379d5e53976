"""Spans recorded around the benchmark's calls into the engine, and the
Spark event-log reader used by the traced run.

A span is one call into one layer: name, layer, start, end, parent span
and request id. The layer is the span name up to its first dot
(``build.index`` -> ``build``); the request id is the id of the
top-level span the call ran under. Spans stay in memory and are written
out once, when the run ends. While a span is open, Spark jobs run under
the job group ``s<span id>``, so the event log charges every job,
stage and task to the innermost span that caused it.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager
from pathlib import Path


class Tracer:
    """Span recorder. ``enabled`` is fixed for the run; ``active`` is
    switched per request, so that the traced run also times untraced
    requests and can report what tracing costs."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.active = enabled
        self.spark = None  # set once the session is up: job groups on
        self.spans: list[dict] = []
        self._stack: list[dict] = []

    @contextmanager
    def span(self, name: str):
        if not (self.enabled and self.active):
            yield
            return
        parent = self._stack[-1] if self._stack else None
        sid = len(self.spans)
        s = {"id": sid, "name": name, "layer": name.split(".")[0],
             "rid": parent["rid"] if parent else sid,
             "parent": parent["id"] if parent else None,
             "start": time.time(), "end": None}
        self.spans.append(s)
        self._stack.append(s)
        self._job_group(sid)
        try:
            yield
        finally:
            s["end"] = time.time()
            self._stack.pop()
            self._job_group(parent["id"] if parent else None)

    def _job_group(self, sid: int | None) -> None:
        if self.spark is None:
            return
        sc = self.spark.sparkContext
        if sid is None:
            sc.setLocalProperty("spark.jobGroup.id", None)
        else:
            sc.setJobGroup(f"s{sid}", f"s{sid}")

    def dump(self, path: Path) -> None:
        path.parent.mkdir(parents=True, exist_ok=True)
        path.write_text(json.dumps(self.spans))


def self_times(spans: list[dict]) -> dict[str, float]:
    """Seconds per layer: each span's duration minus its children's."""
    child: dict[int, float] = {}
    for s in spans:
        if s["parent"] is not None:
            child[s["parent"]] = child.get(s["parent"], 0.0) + s["end"] - s["start"]
    out: dict[str, float] = {}
    for s in spans:
        out[s["layer"]] = out.get(s["layer"], 0.0) + (
            s["end"] - s["start"] - child.get(s["id"], 0.0))
    return out


def read_event_log(log_dir: Path) -> dict[int, dict]:
    """Spark work per span id, from an uncompressed event log: job and
    stage counts, and per task its launch and finish time (epoch ms), GC
    time (ms), shuffle bytes written and bytes spilled. Stages that ran
    no task (shuffle output reused) are not counted."""
    jobs: list[tuple[int, list[int]]] = []
    stage_tasks: dict[int, list[dict]] = {}
    for f in sorted(log_dir.iterdir()):
        with f.open() as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
                    if group.startswith("s"):
                        jobs.append((int(group[1:]), list(ev.get("Stage IDs", []))))
                elif kind == "SparkListenerTaskEnd":
                    info = ev["Task Info"]
                    m = ev.get("Task Metrics") or {}
                    stage_tasks.setdefault(ev["Stage ID"], []).append({
                        "launch": info["Launch Time"],
                        "finish": info["Finish Time"],
                        "gc_ms": m.get("JVM GC Time", 0),
                        "shuffle_write": (m.get("Shuffle Write Metrics") or {}).get(
                            "Shuffle Bytes Written", 0),
                        "spill": m.get("Memory Bytes Spilled", 0)
                        + m.get("Disk Bytes Spilled", 0),
                    })
    out: dict[int, dict] = {}
    for sid, stages in jobs:
        r = out.setdefault(sid, {"jobs": 0, "stages": [], "tasks": []})
        r["jobs"] += 1
        for st in stages:
            if stage_tasks.get(st):
                r["stages"].append(stage_tasks[st])
                r["tasks"] += stage_tasks[st]
    return out


def covered_ms(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of [start, end) intervals."""
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
