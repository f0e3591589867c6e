"""Spans around the benchmark's calls into each layer, and the Spark
event-log counters attributed to them.

A span is (id, layer, call, op, start, end, parent, pass, run id).  Spans
are kept in memory and written out when the run ends.  Each span tags
the Spark jobs it submits through the ``perfbench.span`` local property
(inherited by the threads a call starts); a job
without the tag is attributed by time to the innermost open span.
"""

from __future__ import annotations

import contextlib
import functools
import glob
import json
import os
import time
from dataclasses import asdict, dataclass, field

SPAN_PROP = "perfbench.span"
MB = 1024.0 * 1024.0


@dataclass
class Span:
    id: int
    layer: str
    call: str
    op: str
    start: float
    end: float
    parent: int | None
    pass_no: int
    run_id: str


class Tracer:
    """Records spans; ``enabled=False`` makes every method a no-op."""

    def __init__(self, sc, run_id: str, enabled: bool):
        self.sc = sc
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[Span] = []
        self.pass_no = -1
        self._stack: list[int] = []
        self._next = 0

    @contextlib.contextmanager
    def span(self, layer: str, call: str, op: str = ""):
        if not self.enabled:
            yield
            return
        sid = self._next
        self._next += 1
        parent = self._stack[-1] if self._stack else None
        self._stack.append(sid)
        self.sc.setLocalProperty(SPAN_PROP, str(sid))
        start = time.time()
        try:
            yield
        finally:
            end = time.time()
            self._stack.pop()
            self.sc.setLocalProperty(
                SPAN_PROP, str(parent) if parent is not None else None,
            )
            self.spans.append(Span(
                sid, layer, call, op, start, end, parent, self.pass_no,
                self.run_id,
            ))

    def wrap(self, owner, attr: str, layer: str):
        """Replace ``owner.attr`` by a version that runs inside a span."""
        if not self.enabled:
            return
        fn = getattr(owner, attr)

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(layer, attr):
                return fn(*args, **kwargs)

        setattr(owner, attr, traced)

    def write(self, path: str):
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(asdict(s)) + "\n")


@dataclass
class Counters:
    jobs: int = 0
    stages_listed: int = 0
    stages_run: int = 0
    tasks: int = 0
    executor_run_s: float = 0.0
    executor_cpu_s: float = 0.0
    gc_s: float = 0.0
    shuffle_read_mb: float = 0.0
    shuffle_write_mb: float = 0.0
    spill_mb: float = 0.0
    result_mb: float = 0.0
    peak_exec_mb: float = 0.0
    peak_storage_mb: float = 0.0

    def add(self, other: "Counters"):
        for k, v in asdict(other).items():
            if k.startswith("peak_"):
                setattr(self, k, max(getattr(self, k), v))
            else:
                setattr(self, k, getattr(self, k) + v)


@dataclass
class Job:
    span: int | None
    start: float
    end: float
    listed: int  # stages the job lists, skipped ones included


@dataclass
class Stage:
    span: int | None
    start: float
    counters: Counters = field(default_factory=Counters)


def _span_of(props) -> int | None:
    v = (props or {}).get(SPAN_PROP)
    return int(v) if v not in (None, "") else None


def read_event_log(log_dir: str) -> tuple[list[Job], list[Stage]]:
    """Parse the session's event log into jobs and stage attempts, each
    with the span that submitted it (None when untagged)."""
    files = sorted(glob.glob(os.path.join(log_dir, "*")))
    if not files:
        raise FileNotFoundError(f"no Spark event log in {log_dir}")
    jobs: dict[int, Job] = {}
    stages: dict[tuple, Stage] = {}
    for path in files:
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    t = ev["Submission Time"] / 1e3
                    jobs[ev["Job ID"]] = Job(
                        _span_of(ev.get("Properties")), t, t,
                        len(ev.get("Stage IDs", [])),
                    )
                elif kind == "SparkListenerJobEnd":
                    if ev["Job ID"] in jobs:
                        jobs[ev["Job ID"]].end = ev["Completion Time"] / 1e3
                elif kind == "SparkListenerStageSubmitted":
                    info = ev["Stage Info"]
                    key = (info["Stage ID"], info["Stage Attempt ID"])
                    stages[key] = Stage(
                        _span_of(ev.get("Properties")),
                        (info.get("Submission Time") or 0) / 1e3,
                    )
                elif kind == "SparkListenerTaskEnd":
                    st = stages.get((ev["Stage ID"], ev["Stage Attempt ID"]))
                    if st is None:
                        continue
                    c = st.counters
                    m = ev.get("Task Metrics") or {}
                    c.tasks += 1
                    c.executor_run_s += m.get("Executor Run Time", 0) / 1e3
                    c.executor_cpu_s += m.get("Executor CPU Time", 0) / 1e9
                    c.gc_s += m.get("JVM GC Time", 0) / 1e3
                    sr = m.get("Shuffle Read Metrics") or {}
                    c.shuffle_read_mb += (
                        sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                    ) / MB
                    sw = m.get("Shuffle Write Metrics") or {}
                    c.shuffle_write_mb += sw.get("Shuffle Bytes Written", 0) / MB
                    c.spill_mb += (
                        m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
                    ) / MB
                    c.result_mb += m.get("Result Size", 0) / MB
                    c.peak_exec_mb = max(
                        c.peak_exec_mb, m.get("Peak Execution Memory", 0) / MB,
                    )
                elif kind == "SparkListenerStageExecutorMetrics":
                    st = stages.get((ev["Stage ID"], ev["Stage Attempt ID"]))
                    if st is None:
                        continue
                    em = ev.get("Executor Metrics") or {}
                    st.counters.peak_storage_mb = max(
                        st.counters.peak_storage_mb,
                        (em.get("OnHeapStorageMemory", 0)
                         + em.get("OffHeapStorageMemory", 0)) / MB,
                    )
    return list(jobs.values()), list(stages.values())


def attribute(jobs, stages, spans) -> dict[int, Counters]:
    """Counters per span id.  Untagged jobs and stages go to the innermost
    span open at their submission time; work outside every span (set-up,
    warm-up) is dropped."""
    ordered = sorted(spans, key=lambda s: s.start)

    def innermost(t):
        best = None
        for s in ordered:
            if s.start > t:
                break
            if s.end >= t:
                best = s
        return best.id if best is not None else None

    out: dict[int, Counters] = {}
    ids = {s.id for s in spans}
    for j in jobs:
        if j.span is None:
            j.span = innermost(j.start)
        if j.span in ids:
            c = out.setdefault(j.span, Counters())
            c.jobs += 1
            c.stages_listed += j.listed
    for st in stages:
        sid = st.span if st.span is not None else innermost(st.start)
        if sid in ids:
            c = out.setdefault(sid, Counters())
            c.stages_run += 1
            c.add(st.counters)
    return out


def union_length(intervals) -> float:
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
