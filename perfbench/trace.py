"""Spans, Spark job-group attribution and process memory sampling.

A :class:`Tracer` records one span per call into an engine layer: name,
start, end and parent, all in memory. Each span tags the Spark jobs it
runs with a job group named after the span, so the stage metrics Spark
writes to its event log (enabled only in the traced run) can be
attributed back to the layer. Self time is a span's duration minus the
time its child spans cover. :func:`traced_calls` puts those spans
around the callees an engine plan looks up on its modules, so the
traced run measures the plan itself, not a copy of it.
"""

from __future__ import annotations

import functools
import json
import os
import threading
import time
from collections import defaultdict
from contextlib import ExitStack, contextmanager
from dataclasses import dataclass, field
from unittest import mock

JOB_GROUP_PROP = "spark.jobGroup.id"


@dataclass
class Span:
    name: str
    op: int
    start: float
    parent: Span | None
    end: float = 0.0
    child_s: float = 0.0  # time covered by direct children (they never overlap)
    group: str = ""

    @property
    def duration(self) -> float:
        return self.end - self.start

    @property
    def self_s(self) -> float:
        return self.duration - self.child_s


@dataclass
class JobStats:
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    gc_ms: int = 0


class Tracer:
    """Span recorder bound to one SparkContext (or none, for tests)."""

    def __init__(self, sc=None):
        self._sc = sc
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._op = -1

    def begin_op(self, op: int) -> None:
        self._op = op

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        sp = Span(name, self._op, 0.0, parent)
        sp.group = f"{name}#{len(self.spans)}"
        self.spans.append(sp)
        self._stack.append(sp)
        self._set_group(sp.group)
        sp.start = time.perf_counter()
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()
            if parent is not None:
                parent.child_s += sp.duration
            self._set_group(parent.group if parent else None)

    def _set_group(self, group: str | None) -> None:
        if self._sc is not None:
            self._sc.setLocalProperty(JOB_GROUP_PROP, group)

    def self_seconds(self, name: str) -> dict[int, float]:
        """Self time of ``name`` per op (summed over its spans in the op)."""
        out: dict[int, float] = defaultdict(float)
        for sp in self.spans:
            if sp.name == name:
                out[sp.op] += sp.self_s
        return dict(out)


def spanned(tracer: Tracer, layer, fn, kept: list | None = None):
    """``fn`` run inside a span. ``layer`` is the span name, or a
    function of the call's arguments that returns it. Spark is lazy, so
    a DataFrame the call returns is persisted and counted inside the
    span (the layer's work lands in the layer's span) and appended to
    ``kept`` for the caller to release."""
    from pyspark import StorageLevel
    from pyspark.sql import DataFrame

    @functools.wraps(fn)
    def wrapper(*args, **kwargs):
        with tracer.span(layer(*args, **kwargs) if callable(layer) else layer):
            out = fn(*args, **kwargs)
            if isinstance(out, DataFrame):
                out.persist(StorageLevel.MEMORY_AND_DISK).count()
                if kept is not None:
                    kept.append(out)
        return out

    return wrapper


@contextmanager
def traced_calls(tracer: Tracer, targets: list[tuple[object, str, object]]):
    """Within the block, each ``(owner, attr, layer)`` target has
    ``owner.attr`` replaced by its :func:`spanned` form, so an engine
    plan that looks its callees up on their modules runs unchanged but
    traced. Frames the wrappers persisted are released on exit."""
    kept: list = []
    try:
        with ExitStack() as stack:
            for owner, attr, layer in targets:
                fn = spanned(tracer, layer, getattr(owner, attr), kept)
                stack.enter_context(mock.patch.object(owner, attr, fn))
            yield
    finally:
        for df in kept:
            df.unpersist()


def read_event_log(path: str) -> dict[str, JobStats]:
    """Per job group: jobs, completed stages, tasks, shuffle bytes
    written, bytes spilled to disk and task GC time, from a Spark JSON
    event log. Jobs outside any group are filed under ``""``."""
    stage_group: dict[int, str] = {}
    out: dict[str, JobStats] = defaultdict(JobStats)
    with open(path) as f:
        for line in f:
            try:
                ev = json.loads(line)
            except json.JSONDecodeError:
                continue  # a partly flushed last line
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                group = (ev.get("Properties") or {}).get(JOB_GROUP_PROP) or ""
                out[group].jobs += 1
                for sid in ev.get("Stage IDs", []):
                    stage_group[sid] = group
            elif kind == "SparkListenerStageCompleted":
                sid = ev["Stage Info"]["Stage ID"]
                if sid in stage_group:
                    out[stage_group[sid]].stages += 1
            elif kind == "SparkListenerTaskEnd":
                group = stage_group.get(ev.get("Stage ID"))
                if group is None:
                    continue
                st = out[group]
                st.tasks += 1
                tm = ev.get("Task Metrics") or {}
                st.shuffle_write_bytes += (tm.get("Shuffle Write Metrics") or {}).get(
                    "Shuffle Bytes Written", 0
                )
                st.spill_bytes += tm.get("Disk Bytes Spilled", 0)
                st.gc_ms += tm.get("JVM GC Time", 0)
    return dict(out)


def flush_event_log(spark, log_dir: str) -> str:
    """Wait until Spark's listener bus has written every event, then
    return the path of this (still running) application's event log."""
    sc = spark.sparkContext
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return os.path.join(log_dir, sc.applicationId + ".inprogress")


# ------------------------------------------------------------------ memory


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = defaultdict(list)
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:
            continue  # exited while listing
        # the command name may hold spaces; fields resume after ')'
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids[ppid].append(int(entry))
    return kids


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def tree_rss_kb(root: int) -> int:
    """Resident memory of ``root`` and all its descendants."""
    kids = _children()
    total, todo = 0, [root]
    while todo:
        pid = todo.pop()
        total += _rss_kb(pid)
        todo.extend(kids.get(pid, ()))
    return total


@dataclass
class RssSampler:
    """Samples the resident memory of a process tree (the Spark JVM and
    the Python workers it forks) on a background thread and keeps the
    peak."""

    root_pid: int
    interval_s: float = 0.25
    peak_kb: int = 0
    _stop: threading.Event = field(default_factory=threading.Event)
    _thread: threading.Thread | None = None

    def __enter__(self) -> RssSampler:
        self._thread = threading.Thread(target=self._run, name="rss-sampler", daemon=True)
        self._thread.start()
        return self

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak_kb = max(self.peak_kb, tree_rss_kb(self.root_pid))
            self._stop.wait(self.interval_s)

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)

    @property
    def peak_mb(self) -> float:
        return self.peak_kb / 1024.0
