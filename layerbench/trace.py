"""Spans around the engine's public functions, and the Spark event log.

The tracer patches public functions from outside the engine: each
wrapper records a span (name, start, end, parent) in memory and sets a
Spark job group named after the span, so the jobs a span fires can be
found in the event log afterwards. The group is set inside the wrapper
because ``foreachBatch`` runs the ETL body on another thread.

A span's self time is its duration minus the part of it that its child
spans cover.
"""

from __future__ import annotations

import functools
import itertools
import json
import threading
import time
from collections import defaultdict
from dataclasses import dataclass, field

GROUP_PREFIX = "lb"


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    t0: float  # wall-clock seconds (time.time), comparable to event-log stamps
    t1: float = 0.0
    attrs: dict = field(default_factory=dict)

    @property
    def dur(self) -> float:
        return self.t1 - self.t0

    @property
    def group(self) -> str:
        return f"{GROUP_PREFIX}{self.id}"


class Tracer:
    """In-memory span recorder. ``patch`` wraps a function attribute of a
    module or class; ``restore`` puts every original back."""

    def __init__(self, spark_context) -> None:
        self.sc = spark_context
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()
        self._patched: list[tuple[object, str, object]] = []
        # A span opened on a thread with no open span of its own (the
        # foreachBatch callback thread) is parented to this one.
        self.ambient: int | None = None

    def _stack(self) -> list[Span]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def span(self, name: str, **attrs):
        return _SpanContext(self, name, attrs)

    def open(self, name: str, attrs: dict) -> Span:
        stack = self._stack()
        parent = stack[-1].id if stack else self.ambient
        s = Span(next(self._ids), name, parent, time.time(), attrs=dict(attrs))
        with self._lock:
            self.spans.append(s)
        if not stack and threading.current_thread() is threading.main_thread():
            self.ambient = s.id
        stack.append(s)
        return s

    def close(self, s: Span) -> None:
        s.t1 = time.time()
        stack = self._stack()
        stack.pop()
        if not stack and threading.current_thread() is threading.main_thread():
            self.ambient = None

    def patch(self, owner, attr: str, name: str | None = None, wrap_arg=None) -> None:
        """Replace ``owner.attr`` with a traced wrapper. ``wrap_arg``
        (index) also traces the callable passed at that position."""
        orig = getattr(owner, attr)
        label = name or attr
        tracer = self

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            if wrap_arg is not None and len(args) > wrap_arg:
                args = list(args)
                args[wrap_arg] = tracer.traced(args[wrap_arg], f"{label}.fn")
            with tracer.span(label):
                return orig(*args, **kwargs)

        self._patched.append((owner, attr, orig))
        setattr(owner, attr, wrapper)

    def traced(self, fn, name: str):
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            with tracer.span(name):
                return fn(*args, **kwargs)

        return wrapper

    def restore(self) -> None:
        while self._patched:
            owner, attr, orig = self._patched.pop()
            setattr(owner, attr, orig)


class _SpanContext:
    def __init__(self, tracer: Tracer, name: str, attrs: dict) -> None:
        self.tracer, self.name, self.attrs = tracer, name, attrs

    def __enter__(self) -> Span:
        sc = self.tracer.sc
        self.prev = (
            sc.getLocalProperty("spark.jobGroup.id"),
            sc.getLocalProperty("spark.job.description"),
        )
        self.s = self.tracer.open(self.name, self.attrs)
        sc.setJobGroup(self.s.group, self.name)
        return self.s

    def __exit__(self, *exc) -> None:
        self.tracer.close(self.s)
        sc = self.tracer.sc
        sc.setLocalProperty("spark.jobGroup.id", self.prev[0])
        sc.setLocalProperty("spark.job.description", self.prev[1])


# --- span arithmetic --------------------------------------------------------


def covered(interval: tuple[float, float], parts: list[tuple[float, float]]) -> float:
    """Length of ``interval`` covered by the union of ``parts``."""
    lo, hi = interval
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in parts if b > lo and a < hi)
    total, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span id -> duration minus the time its children cover."""
    children: dict[int, list[tuple[float, float]]] = defaultdict(list)
    for s in spans:
        if s.parent is not None:
            children[s.parent].append((s.t0, s.t1))
    return {s.id: s.dur - covered((s.t0, s.t1), children[s.id]) for s in spans}


def descendants(spans: list[Span], root: int) -> list[Span]:
    """``root`` and every span below it."""
    kids: dict[int, list[Span]] = defaultdict(list)
    by_id = {}
    for s in spans:
        by_id[s.id] = s
        if s.parent is not None:
            kids[s.parent].append(s)
    out, todo = [], [root]
    while todo:
        i = todo.pop()
        if i in by_id:
            out.append(by_id[i])
        todo.extend(k.id for k in kids[i])
    return out


# --- event log --------------------------------------------------------------

_SQL_START = "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart"


@dataclass
class GroupStats:
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    task_run_s: float = 0.0
    task_cpu_s: float = 0.0
    gc_s: float = 0.0
    sched_delay_s: float = 0.0
    shuffle_read_b: int = 0
    shuffle_write_b: int = 0
    spill_b: int = 0
    sql_starts: list = field(default_factory=list)  # epoch seconds

    def add(self, o: "GroupStats") -> None:
        for k in ("jobs", "stages", "tasks", "task_run_s", "task_cpu_s", "gc_s",
                  "sched_delay_s", "shuffle_read_b", "shuffle_write_b", "spill_b"):
            setattr(self, k, getattr(self, k) + getattr(o, k))
        self.sql_starts.extend(o.sql_starts)


def parse_event_log(path: str) -> dict[str | None, GroupStats]:
    """Job group -> jobs, stages, tasks and task metrics, read from an
    uncompressed Spark event log. Stages and tasks are attributed by the
    group in their own stage's submit properties."""
    groups: dict[str | None, GroupStats] = defaultdict(GroupStats)
    stage_group: dict[tuple[int, int], str | None] = {}
    sql_start: dict[int, float] = {}
    exec_groups: dict[int, set] = defaultdict(set)
    with open(path, encoding="utf-8") as f:
        for line in f:
            e = json.loads(line)
            ev = e.get("Event")
            if ev == "SparkListenerJobStart":
                props = e.get("Properties") or {}
                g = props.get("spark.jobGroup.id")
                groups[g].jobs += 1
                xid = props.get("spark.sql.execution.id")
                if xid is not None:
                    exec_groups[int(xid)].add(g)
            elif ev == "SparkListenerStageSubmitted":
                info = e["Stage Info"]
                g = (e.get("Properties") or {}).get("spark.jobGroup.id")
                stage_group[(info["Stage ID"], info["Stage Attempt ID"])] = g
                groups[g].stages += 1
            elif ev == "SparkListenerTaskEnd":
                g = stage_group.get((e["Stage ID"], e["Stage Attempt ID"]))
                st = groups[g]
                st.tasks += 1
                tm = e.get("Task Metrics") or {}
                info = e.get("Task Info") or {}
                run_ms = tm.get("Executor Run Time", 0)
                st.task_run_s += run_ms / 1e3
                st.task_cpu_s += tm.get("Executor CPU Time", 0) / 1e9
                st.gc_s += tm.get("JVM GC Time", 0) / 1e3
                wall_ms = info.get("Finish Time", 0) - info.get("Launch Time", 0)
                st.sched_delay_s += max(
                    0,
                    wall_ms
                    - run_ms
                    - tm.get("Executor Deserialize Time", 0)
                    - tm.get("Result Serialization Time", 0),
                ) / 1e3
                rd = tm.get("Shuffle Read Metrics") or {}
                st.shuffle_read_b += rd.get("Remote Bytes Read", 0) + rd.get("Local Bytes Read", 0)
                st.shuffle_write_b += (tm.get("Shuffle Write Metrics") or {}).get(
                    "Shuffle Bytes Written", 0
                )
                st.spill_b += tm.get("Memory Bytes Spilled", 0) + tm.get("Disk Bytes Spilled", 0)
            elif ev == _SQL_START:
                sql_start[int(e["executionId"])] = e["time"] / 1e3
    for xid, gs in exec_groups.items():
        if xid in sql_start:
            for g in gs:
                groups[g].sql_starts.append(sql_start[xid])
    return dict(groups)
