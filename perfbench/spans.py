"""Spans recorded around calls into the program, and Spark's event log
attributed to them.

A span is opened by the benchmark before it calls into a layer. Opening one
sets the Spark local property ``perfbench.span`` to the span id, so every job
the call submits carries the id in its ``SparkListenerJobStart`` properties;
the event-log parser maps stages to jobs to spans and sums the task metrics
per span. Spans live in memory and are written when the run ends.
"""

from __future__ import annotations

import glob
import json
import os
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass, field

SPAN_PROPERTY = "perfbench.span"


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    request: str | None
    start: float
    end: float = 0.0

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    """Records spans when `enabled`; otherwise every call is a no-op, so the
    untraced run pays nothing but a branch."""

    def __init__(self, enabled: bool, sc=None):
        self.enabled = enabled
        self.sc = sc
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._switched: Span | None = None
        self._t0 = time.perf_counter()

    def _now(self) -> float:
        return time.perf_counter() - self._t0

    def _set_property(self, span: Span | None) -> None:
        if self.sc is not None:
            self.sc.setLocalProperty(SPAN_PROPERTY, None if span is None else str(span.id))

    def _open(self, name: str, request: str | None) -> Span:
        parent = self._stack[-1] if self._stack else None
        span = Span(
            id=len(self.spans) + 1, name=name, parent=parent.id if parent else None,
            request=request if request is not None else (parent.request if parent else None),
            start=self._now(),
        )
        self.spans.append(span)
        self._stack.append(span)
        self._set_property(span)
        return span

    def _close(self, span: Span) -> None:
        span.end = self._now()
        self._stack.remove(span)
        self._set_property(self._stack[-1] if self._stack else None)

    @contextmanager
    def span(self, name: str, request: str | None = None):
        if not self.enabled:
            yield None
            return
        self.close_switched()
        s = self._open(name, request)
        try:
            yield s
        finally:
            self.close_switched()
            self._close(s)

    def switch(self, name: str) -> None:
        """Close the span opened by the previous `switch` and open `name` in
        its place: for phases of one call that the benchmark cannot wrap,
        such as the per-entity steps inside a sync run."""
        if not self.enabled:
            return
        self.close_switched()
        self._switched = self._open(name, None)

    def close_switched(self) -> None:
        if self._switched is not None:
            s, self._switched = self._switched, None
            self._close(s)


def self_times(spans: list[Span]) -> dict[int, float]:
    """span id -> duration minus the part of its interval its children cover."""
    children: dict[int, list[Span]] = defaultdict(list)
    for s in spans:
        if s.parent is not None:
            children[s.parent].append(s)
    out = {}
    for s in spans:
        covered = 0.0
        cur_start = cur_end = None
        for c in sorted(children[s.id], key=lambda c: c.start):
            a, b = max(c.start, s.start), min(c.end, s.end)
            if b <= a:
                continue
            if cur_end is None or a > cur_end:
                if cur_end is not None:
                    covered += cur_end - cur_start
                cur_start, cur_end = a, b
            else:
                cur_end = max(cur_end, b)
        if cur_end is not None:
            covered += cur_end - cur_start
        out[s.id] = s.duration - covered
    return out


def subtree_ids(spans: list[Span], roots) -> set[int]:
    """The ids of `roots` and of every span below them."""
    children: dict[int, list[int]] = defaultdict(list)
    for s in spans:
        if s.parent is not None:
            children[s.parent].append(s.id)
    out, todo = set(), list(roots)
    while todo:
        i = todo.pop()
        if i not in out:
            out.add(i)
            todo.extend(children[i])
    return out


def span_summary(spans: list[Span]) -> dict[str, dict]:
    """Per span name: count, total and self seconds, and the parent names."""
    by_id = {s.id: s for s in spans}
    selft = self_times(spans)
    out: dict[str, dict] = {}
    for s in spans:
        e = out.setdefault(s.name, {"count": 0, "total_s": 0.0, "self_s": 0.0, "parents": set()})
        e["count"] += 1
        e["total_s"] += s.duration
        e["self_s"] += selft[s.id]
        e["parents"].add(by_id[s.parent].name if s.parent in by_id else None)
    for e in out.values():
        e["parents"] = sorted(p or "" for p in e["parents"])
        e["total_s"] = round(e["total_s"], 6)
        e["self_s"] = round(e["self_s"], 6)
    return out


# ------------------------------------------------------------------ event log

METRIC_KEYS = (
    "jobs", "rdd_actions", "tasks", "task_run_s", "write_task_run_s", "executor_cpu_s", "gc_s",
    "scheduler_delay_s", "input_rows", "input_bytes", "output_rows", "output_bytes",
    "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes",
)


@dataclass
class SpanStats:
    counts: dict[str, float] = field(default_factory=lambda: dict.fromkeys(METRIC_KEYS, 0.0))
    executions: set = field(default_factory=set)
    job_intervals: list = field(default_factory=list)  # (submitted, completed) in ms

    def add(self, other: "SpanStats") -> None:
        for k in METRIC_KEYS:
            self.counts[k] += other.counts[k]
        self.executions |= other.executions
        self.job_intervals += other.job_intervals

    def job_s(self) -> float:
        """Seconds during which at least one of the jobs was running."""
        total, end = 0.0, None
        for a, b in sorted(self.job_intervals):
            if end is None or a > end:
                total += b - a
                end = b
            elif b > end:
                total += b - end
                end = b
        return total / 1e3


def _task_metrics(info: dict, m: dict) -> dict[str, float]:
    run_ms = m.get("Executor Run Time", 0)
    overhead_ms = (
        m.get("Executor Deserialize Time", 0) + m.get("Result Serialization Time", 0)
        + info.get("Getting Result Time", 0)
    )
    wall_ms = info.get("Finish Time", 0) - info.get("Launch Time", 0)
    sr, sw = m.get("Shuffle Read Metrics", {}), m.get("Shuffle Write Metrics", {})
    im, om = m.get("Input Metrics", {}), m.get("Output Metrics", {})
    writes = om.get("Records Written", 0) > 0 or om.get("Bytes Written", 0) > 0
    return {
        "tasks": 1,
        "task_run_s": run_ms / 1e3,
        # run time of tasks that wrote output files (the mirror writes)
        "write_task_run_s": run_ms / 1e3 if writes else 0.0,
        "executor_cpu_s": m.get("Executor CPU Time", 0) / 1e9,
        "gc_s": m.get("JVM GC Time", 0) / 1e3,
        # the Spark UI's definition: task wall time not spent running,
        # deserializing or shipping the result
        "scheduler_delay_s": max(0, wall_ms - run_ms - overhead_ms) / 1e3,
        "input_rows": im.get("Records Read", 0),
        "input_bytes": im.get("Bytes Read", 0),
        "output_rows": om.get("Records Written", 0),
        "output_bytes": om.get("Bytes Written", 0),
        "shuffle_read_bytes": sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0),
        "shuffle_write_bytes": sw.get("Shuffle Bytes Written", 0),
        "spill_bytes": m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0),
    }


@dataclass
class EventLog:
    by_span: dict[str, SpanStats]  # span id ("" for jobs outside any span)
    plans: dict[tuple[str, int], str]  # (log file, execution id) -> physical plan text

    def stats(self, span_ids) -> SpanStats:
        out = SpanStats()
        for sid in span_ids:
            if str(sid) in self.by_span:
                out.add(self.by_span[str(sid)])
        return out


def parse_event_logs(log_dir: str) -> EventLog:
    """Sum task metrics per span over every event-log file in `log_dir`
    (one file per SparkContext; ids are scoped to their file)."""
    by_span: dict[str, SpanStats] = defaultdict(SpanStats)
    plans: dict[tuple[str, int], str] = {}
    for path in sorted(glob.glob(os.path.join(log_dir, "*"))):
        if os.path.isdir(path) or os.path.basename(path).startswith("."):
            continue
        stage_span: dict[int, str] = {}
        job_start: dict[int, tuple[str, int]] = {}
        tag = os.path.basename(path)
        with open(path) as f:
            for line in f:
                e = json.loads(line)
                kind = e["Event"]
                if kind == "SparkListenerJobStart":
                    props = e.get("Properties") or {}
                    sid = props.get(SPAN_PROPERTY) or ""
                    st = by_span[sid]
                    st.counts["jobs"] += 1
                    if "spark.sql.execution.id" in props:
                        st.executions.add((tag, int(props["spark.sql.execution.id"])))
                    elif props.get("callSite.short"):
                        # an RDD action such as DataFrame.foreachPartition:
                        # it runs a whole plan without an SQL execution
                        st.counts["rdd_actions"] += 1
                    for stage in e.get("Stage IDs", []):
                        stage_span[stage] = sid
                    job_start[e["Job ID"]] = (sid, e.get("Submission Time", 0))
                elif kind == "SparkListenerJobEnd" and e["Job ID"] in job_start:
                    sid, t0 = job_start.pop(e["Job ID"])
                    by_span[sid].job_intervals.append((t0, e.get("Completion Time", t0)))
                elif kind == "SparkListenerTaskEnd":
                    m = e.get("Task Metrics")
                    if not m:
                        continue
                    st = by_span[stage_span.get(e["Stage ID"], "")]
                    for k, v in _task_metrics(e.get("Task Info", {}), m).items():
                        st.counts[k] += v
                elif kind.endswith("SparkListenerSQLExecutionStart"):
                    plans[(tag, int(e["executionId"]))] = e.get("physicalPlanDescription", "")
    return EventLog(dict(by_span), plans)
