"""Spans around the benchmark's calls into each layer, and the Spark task
counters those calls caused, read back from the event log.

A span is recorded from outside the program: the benchmark wraps a call
into a layer's public function in ``Tracer.span(name)``, which times it and
tags every Spark job submitted from the calling thread with the span's job
group. Jobs submitted from other threads (a streaming query's micro-batch
thread sets its own job group) are attributed to the innermost span whose
time window holds the job's submission time. Spans stay in memory; the
caller writes them out at exit.
"""

from __future__ import annotations

import json
import os
import statistics
import time
from contextlib import contextmanager

GROUP_PREFIX = "perfbench:"
# engine counters kept per span; failed tasks and spill bytes are read too
# but stay 0 at these input sizes, so they are not reported
COUNTERS = ("tasks", "shuffle_write_bytes", "executor_run_s", "gc_s")


class Tracer:
    def __init__(self, sc):
        self.sc = sc
        self.spans: list[dict] = []
        self._stack: list[dict] = []

    def _set_group(self, span: dict | None) -> None:
        if span is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
        else:
            self.sc.setJobGroup(GROUP_PREFIX + str(span["id"]), span["name"])

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        s = {
            "id": len(self.spans),
            "name": name,
            "parent": parent["id"] if parent else None,
            "start_ms": time.time() * 1000.0,
            "end_ms": None,
        }
        self.spans.append(s)
        self._stack.append(s)
        self._set_group(s)
        try:
            yield s
        finally:
            s["end_ms"] = time.time() * 1000.0
            self._stack.pop()
            self._set_group(parent)

    def seconds(self, name: str) -> list[float]:
        return [
            (s["end_ms"] - s["start_ms"]) / 1000.0
            for s in self.spans
            if s["name"] == name and s["end_ms"] is not None
        ]

    def median_s(self, name: str) -> float:
        xs = self.seconds(name)
        return statistics.median(xs) if xs else 0.0


def _read_events(log_dir: str) -> list[dict]:
    """Every event of the uncompressed event log(s) under ``log_dir``
    (Spark 4 writes a directory of rolled ``events_*`` files per app)."""
    events = []
    for d, _, files in sorted(os.walk(log_dir)):
        for f in sorted(files):
            if f.startswith((".", "appstatus")):  # checksums, status marker
                continue
            with open(os.path.join(d, f)) as fh:
                events.extend(json.loads(line) for line in fh if line.strip())
    return events


def span_counters(log_dir: str, spans: list[dict]) -> dict[int, dict]:
    """Per span id: summed task counters of the jobs it caused, plus the
    per-stage task run times (``stage_task_s``) for skew measures."""
    by_id = {s["id"]: s for s in spans}
    closed = [s for s in spans if s["end_ms"] is not None]

    def owner(props: dict, submit_ms: float) -> int | None:
        group = props.get("spark.jobGroup.id") or ""
        if group.startswith(GROUP_PREFIX):
            sid = int(group[len(GROUP_PREFIX):])
            return sid if sid in by_id else None
        inside = [
            s for s in closed if s["start_ms"] <= submit_ms <= s["end_ms"]
        ]
        if not inside:
            return None
        return min(inside, key=lambda s: s["end_ms"] - s["start_ms"])["id"]

    stage_owner: dict[int, int] = {}
    out: dict[int, dict] = {}
    for ev in _read_events(log_dir):
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            sid = owner(ev.get("Properties") or {}, ev.get("Submission Time", 0))
            if sid is None:
                continue
            for st in ev.get("Stage IDs", []):
                stage_owner.setdefault(st, sid)
        elif kind == "SparkListenerTaskEnd":
            sid = stage_owner.get(ev.get("Stage ID"))
            if sid is None:
                continue
            c = out.setdefault(
                sid,
                {
                    "tasks": 0,
                    "failed_tasks": 0,
                    "shuffle_write_bytes": 0,
                    "spill_bytes": 0,
                    "executor_run_s": 0.0,
                    "gc_s": 0.0,
                    "stage_task_s": {},
                },
            )
            info = ev.get("Task Info") or {}
            m = ev.get("Task Metrics") or {}
            run_s = m.get("Executor Run Time", 0) / 1000.0
            c["tasks"] += 1
            c["failed_tasks"] += int(bool(info.get("Failed")))
            c["shuffle_write_bytes"] += (
                m.get("Shuffle Write Metrics") or {}
            ).get("Shuffle Bytes Written", 0)
            c["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get(
                "Disk Bytes Spilled", 0
            )
            c["executor_run_s"] += run_s
            c["gc_s"] += m.get("JVM GC Time", 0) / 1000.0
            c["stage_task_s"].setdefault(ev["Stage ID"], []).append(run_s)
    return out


def per_call_counters(
    spans: list[dict], counters: dict[int, dict], name: str
) -> dict[str, float]:
    """Counters of every ``name`` span, averaged per call (0 when the
    workload never made the call)."""
    ids = [s["id"] for s in spans if s["name"] == name]
    if not ids:
        return dict.fromkeys(COUNTERS, 0.0)
    return {
        k: sum(counters.get(i, {}).get(k, 0) for i in ids) / len(ids)
        for k in COUNTERS
    }


def max_task_share(spans: list[dict], counters: dict[int, dict], name: str) -> float:
    """The longest task's share of its stage's summed task run time, for
    the busiest multi-task stage of the ``name`` spans: 1/tasks when the
    stage is balanced, near 1 when one hot key holds the stage."""
    best = (0.0, 0.0)
    for s in spans:
        if s["name"] != name:
            continue
        for times in counters.get(s["id"], {}).get("stage_task_s", {}).values():
            total = sum(times)
            if len(times) > 1 and total > best[0]:
                best = (total, max(times) / total)
    return best[1]
