"""Probes for the traced run: spans, Spark event-log totals, stream progress.

Everything here observes the engine from outside, through public Spark
and engine entry points; nothing inside the engine is patched.
"""

from __future__ import annotations

import glob
import json
import os
import re
import threading
import time
from dataclasses import dataclass, field

from pyspark.sql.streaming import StreamingQueryListener


@dataclass
class Span:
    span_id: int
    name: str
    query_id: str
    parent: int | None
    start: float
    end: float = 0.0


@dataclass
class Tracer:
    """In-memory span recorder. ``enabled=False`` makes every call free of
    bookkeeping, so the untraced run pays nothing."""

    enabled: bool
    spans: list[Span] = field(default_factory=list)
    _stack: list[Span] = field(default_factory=list)

    def start(self, name: str, query_id: str = "") -> None:
        if not self.enabled:
            return
        parent = self._stack[-1].span_id if self._stack else None
        span = Span(len(self.spans), name, query_id, parent, time.perf_counter())
        self.spans.append(span)
        self._stack.append(span)

    def stop(self) -> float:
        if not self.enabled:
            return 0.0
        span = self._stack.pop()
        span.end = time.perf_counter()
        return span.end - span.start

    def unwind_to(self, name: str) -> None:
        """Close open spans down to (not including) the innermost ``name``."""
        while self._stack and self._stack[-1].name != name:
            self.stop()

    def self_times(self) -> dict[int, float]:
        """Span id -> duration minus the time its children cover."""
        child_time: dict[int, float] = {}
        for s in self.spans:
            if s.parent is not None:
                child_time[s.parent] = child_time.get(s.parent, 0.0) + (s.end - s.start)
        return {s.span_id: (s.end - s.start) - child_time.get(s.span_id, 0.0) for s in self.spans}

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps(s.__dict__) + "\n")


class StreamProgress(StreamingQueryListener):
    """Collects every micro-batch progress event of the session."""

    def __init__(self) -> None:
        self.lock = threading.Lock()
        self.progress: list[dict] = []

    def onQueryStarted(self, event) -> None:
        pass

    def onQueryProgress(self, event) -> None:
        p = event.progress
        record = {
            "run_id": str(p.runId),
            "batch_id": p.batchId,
            "input_rows": p.numInputRows,
            "duration_ms": dict(p.durationMs),
            "state_rows": sum(op.numRowsTotal for op in p.stateOperators),
        }
        with self.lock:
            self.progress.append(record)

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        pass

    def reset(self) -> None:
        with self.lock:
            self.progress.clear()

    def summary(self) -> dict[str, float]:
        with self.lock:
            progress = list(self.progress)
        dur = lambda key: sum(p["duration_ms"].get(key, 0) for p in progress)  # noqa: E731
        last_state: dict[str, int] = {}
        for p in progress:
            last_state[p["run_id"]] = p["state_rows"]
        return {
            "streaming.batches": len(progress),
            "streaming.empty_batches": sum(1 for p in progress if p["input_rows"] == 0),
            "streaming.trigger_ms": dur("triggerExecution"),
            "streaming.add_batch_ms": dur("addBatch"),
            "streaming.query_planning_ms": dur("queryPlanning"),
            "streaming.commit_ms": dur("walCommit") + dur("commitOffsets"),
            "streaming.state_rows": sum(last_state.values()),
        }


def wait_listener_bus(spark, timeout_ms: int = 30_000) -> None:
    """Block until Spark's listener bus has delivered every queued event."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty(timeout_ms)


def catalyst_phases(df) -> dict[str, float]:
    """Phase name -> ms from the DataFrame's QueryPlanningTracker."""
    phases = df._jdf.queryExecution().tracker().phases()
    out = {}
    keys = phases.keysIterator()
    while keys.hasNext():
        key = keys.next()
        out[key] = float(phases.apply(key).durationMs())
    return out


_NODE = re.compile(r"^[\s:+\-|]*(\w+)")


def exchange_count(df) -> int:
    """Exchange nodes in the executed (final adaptive) physical plan."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    n = 0
    for line in plan.splitlines():
        m = _NODE.match(line)
        if m and m.group(1).endswith("Exchange"):
            n += 1
    return n


def _log_files(log_dir: str) -> list[str]:
    """Event-log files in write order. Spark 4 writes a rolling log: a
    directory holding ``events_<n>_<app>`` parts."""

    def part(path: str) -> int:
        m = re.match(r"events_(\d+)_", os.path.basename(path))
        return int(m.group(1)) if m else 0

    files = [p for p in glob.glob(os.path.join(log_dir, "**"), recursive=True) if os.path.isfile(p)]
    return sorted(files, key=part)


def event_log_totals(log_dir: str, groups: dict[str, set[int]]) -> dict[str, dict]:
    """Per job group: job, stage and task counts and task metrics.

    ``groups`` maps a job group id to the job ids started while the
    query's callable was building (so action-phase metrics can exclude
    them). Jobs are attributed by ``spark.jobGroup.id`` in JobStart.
    """
    job_group: dict[int, str] = {}
    stage_job: dict[int, int] = {}
    out = {
        g: {"jobs": 0, "stages": set(), "tasks": 0, "action_run_ms": 0.0,
            "cpu_ns": 0.0, "gc_ms": 0.0, "shuffle_read": 0.0, "shuffle_write": 0.0,
            "spill": 0.0}
        for g in groups
    }
    for path in _log_files(log_dir):
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    if group in out:
                        job_group[ev["Job ID"]] = group
                        out[group]["jobs"] += 1
                        for sid in ev.get("Stage IDs", []):
                            stage_job[sid] = ev["Job ID"]
                elif kind == "SparkListenerTaskEnd":
                    job = stage_job.get(ev.get("Stage ID"))
                    if job is None:
                        continue
                    g = out[job_group[job]]
                    m = ev.get("Task Metrics") or {}
                    g["stages"].add(ev["Stage ID"])
                    g["tasks"] += 1
                    if job not in groups[job_group[job]]:
                        g["action_run_ms"] += float(m.get("Executor Run Time", 0))
                    g["cpu_ns"] += float(m.get("Executor CPU Time", 0))
                    g["gc_ms"] += float(m.get("JVM GC Time", 0))
                    sr = m.get("Shuffle Read Metrics") or {}
                    g["shuffle_read"] += float(sr.get("Remote Bytes Read", 0)) + float(
                        sr.get("Local Bytes Read", 0)
                    )
                    sw = m.get("Shuffle Write Metrics") or {}
                    g["shuffle_write"] += float(sw.get("Shuffle Bytes Written", 0))
                    g["spill"] += float(m.get("Disk Bytes Spilled", 0))
    for g in out.values():
        g["stages"] = len(g["stages"])
    return out
