"""Span recorder, Spark event-log collector and the statistics both use.

Spans are recorded from the benchmark's own code: around the calls it
makes into each layer, and around layer functions it wraps as module or
class attributes (so calls the package makes internally, such as the
per-epoch ``plans.pipeline.run`` inside ``run_streaming``, are seen
too). Nothing in the package is edited.

A span's parent is the innermost open span of its own thread. A thread
with no open span inherits the span that was current where its work was
submitted to a ``ThreadPoolExecutor`` (``plans.run`` stages branches
from a pool), and otherwise the client thread's innermost open span
(``foreachBatch`` callbacks arrive on a py4j thread while the client
blocks inside ``run_streaming``).

Spark jobs are read from the event log and attributed to the innermost
span whose interval contains the job's submission time. Job groups are
not used: they do not reach pool threads.
"""

from __future__ import annotations

import concurrent.futures
import functools
import json
import statistics
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field


# ----------------------------------------------------------------------
# statistics
# ----------------------------------------------------------------------


def union_length(intervals, lo: float, hi: float) -> float:
    """Length of the union of *intervals* clipped to [lo, hi]."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals
                     if min(b, hi) > max(a, lo))
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


def tail(values) -> tuple[float, float, int]:
    """(value, percentile, n) of the highest percentile that has at
    least ten samples beyond it: the 11th largest sample, at percentile
    100 * (n - 10) / n. With ten samples or fewer no percentile has ten
    beyond it, and the maximum is reported at percentile 100."""
    xs = sorted(values)
    n = len(xs)
    if n == 0:
        raise ValueError("tail of no samples")
    if n <= 10:
        return xs[-1], 100.0, n
    return xs[n - 11], 100.0 * (n - 10) / n, n


def median(values) -> float:
    return statistics.median(values) if values else 0.0


# ----------------------------------------------------------------------
# spans
# ----------------------------------------------------------------------


@dataclass
class Span:
    sid: int
    name: str
    trace: int
    parent: int | None
    thread: int
    start: float  # epoch seconds, the event log's clock
    end: float | None = None
    attrs: dict = field(default_factory=dict)

    @property
    def wall(self) -> float:
        return self.end - self.start


class Recorder:
    """In-memory span store. One instance per traced run."""

    def __init__(self, clock=time.time):
        self.clock = clock
        self.spans: list[Span] = []
        self.trace_id = 0
        self._lock = threading.Lock()
        self._local = threading.local()
        self._client = threading.get_ident()
        self._stacks: dict[int, list[int]] = {}
        self._undo: list[tuple[object, str, object]] = []

    # -- parent resolution ---------------------------------------------
    def _stack(self) -> list[int]:
        tid = threading.get_ident()
        with self._lock:
            return self._stacks.setdefault(tid, [])

    def current(self) -> int | None:
        """Span id a span opened now on this thread would nest under."""
        stack = self._stack()
        if stack:
            return stack[-1]
        inherited = getattr(self._local, "inherited", None)
        if inherited is not None:
            return inherited
        with self._lock:
            client = self._stacks.get(self._client) or []
            return client[-1] if client else None

    # -- recording -----------------------------------------------------
    def new_trace(self) -> int:
        """Start a new trace id (one per cycle or pass)."""
        self.trace_id += 1
        return self.trace_id

    @contextmanager
    def span(self, name: str, **attrs):
        parent = self.current()
        with self._lock:
            sp = Span(len(self.spans), name, self.trace_id, parent,
                      threading.get_ident(), self.clock(), attrs=attrs)
            self.spans.append(sp)
        stack = self._stack()
        stack.append(sp.sid)
        try:
            yield sp
        finally:
            stack.pop()
            sp.end = self.clock()

    def wrap(self, owner, attr: str, name: str, on_result=None):
        """Replace ``owner.attr`` with a span-recording wrapper.
        *on_result(span, result, args, kwargs)* may attach counts."""
        orig = getattr(owner, attr)
        recorder = self

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            with recorder.span(name) as sp:
                out = orig(*args, **kwargs)
                if on_result is not None:
                    on_result(sp, out, args, kwargs)
                return out

        self._undo.append((owner, attr, owner.__dict__[attr]))
        setattr(owner, attr, wrapper)
        return wrapper

    def inherit_into_pools(self) -> None:
        """Make work submitted to a ThreadPoolExecutor nest under the
        span current at submission."""
        recorder = self
        orig = concurrent.futures.ThreadPoolExecutor.submit

        def submit(pool, fn, /, *args, **kwargs):
            parent = recorder.current()

            def run(*a, **kw):
                recorder._local.inherited = parent
                try:
                    return fn(*a, **kw)
                finally:
                    recorder._local.inherited = None

            return orig(pool, run, *args, **kwargs)

        self._undo.append((concurrent.futures.ThreadPoolExecutor, "submit",
                           orig))
        concurrent.futures.ThreadPoolExecutor.submit = submit

    def restore(self) -> None:
        """Undo every wrap, newest first."""
        while self._undo:
            owner, attr, orig = self._undo.pop()
            setattr(owner, attr, orig)

    # -- derived views ---------------------------------------------------
    def children(self) -> dict[int, list[Span]]:
        kids: dict[int, list[Span]] = {}
        for sp in self.spans:
            if sp.parent is not None:
                kids.setdefault(sp.parent, []).append(sp)
        return kids

    def self_time(self, sp: Span, kids: dict[int, list[Span]]) -> float:
        """Span wall minus the part of it its child spans cover."""
        covered = union_length(
            [(c.start, c.end) for c in kids.get(sp.sid, ())
             if c.end is not None], sp.start, sp.end)
        return sp.wall - covered

    def ancestors(self, sid: int):
        while sid is not None:
            yield sid
            sid = self.spans[sid].parent

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for sp in self.spans:
                f.write(json.dumps(sp.__dict__) + "\n")


# ----------------------------------------------------------------------
# Spark event log
# ----------------------------------------------------------------------

TASK_FIELDS = ("tasks", "executor_run_s", "executor_cpu_s",
               "shuffle_write_bytes", "shuffle_read_bytes", "spill_bytes")


@dataclass
class Job:
    job_id: int
    submit: float  # epoch seconds
    end: float
    stages: list[int]
    totals: dict = field(default_factory=lambda: dict.fromkeys(TASK_FIELDS, 0))


def parse_event_log(lines) -> list[Job]:
    """Jobs with their task totals from Spark event-log JSON lines.

    A stage's tasks count toward the job that ran it: among the jobs
    listing the stage, the latest one submitted no later than the
    stage. A stage a later job reuses from the shuffle is skipped
    there, so its tasks are not counted twice."""
    jobs: dict[int, Job] = {}
    stage_submit: dict[int, float] = {}
    stage_totals: dict[int, dict] = {}
    for line in lines:
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            jid = ev["Job ID"]
            jobs[jid] = Job(jid, ev["Submission Time"] / 1000.0, 0.0,
                            list(ev.get("Stage IDs", [])))
        elif kind == "SparkListenerJobEnd":
            job = jobs.get(ev["Job ID"])
            if job is not None:
                job.end = ev["Completion Time"] / 1000.0
        elif kind == "SparkListenerStageSubmitted":
            info = ev["Stage Info"]
            ts = info.get("Submission Time")
            if ts is not None:
                stage_submit.setdefault(info["Stage ID"], ts / 1000.0)
        elif kind == "SparkListenerTaskEnd":
            tm = ev.get("Task Metrics") or {}
            t = stage_totals.setdefault(ev["Stage ID"],
                                        dict.fromkeys(TASK_FIELDS, 0))
            sw = tm.get("Shuffle Write Metrics") or {}
            sr = tm.get("Shuffle Read Metrics") or {}
            t["tasks"] += 1
            t["executor_run_s"] += tm.get("Executor Run Time", 0) / 1e3
            t["executor_cpu_s"] += tm.get("Executor CPU Time", 0) / 1e9
            t["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
            t["shuffle_read_bytes"] += (sr.get("Remote Bytes Read", 0)
                                        + sr.get("Local Bytes Read", 0))
            t["spill_bytes"] += (tm.get("Memory Bytes Spilled", 0)
                                 + tm.get("Disk Bytes Spilled", 0))
    by_stage: dict[int, list[Job]] = {}
    for job in jobs.values():
        if job.end == 0.0:
            job.end = job.submit
        for s in job.stages:
            by_stage.setdefault(s, []).append(job)
    for s, totals in stage_totals.items():
        owners = by_stage.get(s)
        if not owners:
            continue
        at = stage_submit.get(s, float("inf"))
        eligible = [j for j in owners if j.submit <= at] or owners
        owner = max(eligible, key=lambda j: (j.submit, j.job_id))
        for k, v in totals.items():
            owner.totals[k] += v
    return sorted(jobs.values(), key=lambda j: j.job_id)


def attribute_jobs(spans: list[Span], jobs: list[Job]) -> dict[int, int]:
    """job id -> id of the innermost span whose interval contains the
    job's submission (latest start; the shorter span on a tie). Jobs
    outside every span are left out."""
    closed = sorted((s for s in spans if s.end is not None),
                    key=lambda s: s.start)
    out = {}
    for job in jobs:
        best = None
        for sp in closed:
            if sp.start > job.submit:
                break
            if sp.end >= job.submit and (
                    best is None or (sp.start, -sp.wall)
                    > (best.start, -best.wall)):
                best = sp
        if best is not None:
            out[job.job_id] = best.sid
    return out


def span_jobs(rec: Recorder, jobs: list[Job]) -> dict[int, list[Job]]:
    """span id -> jobs attributed to it or to any span below it."""
    owner = attribute_jobs(rec.spans, jobs)
    out: dict[int, list[Job]] = {}
    for job in jobs:
        sid = owner.get(job.job_id)
        if sid is None:
            continue
        for a in rec.ancestors(sid):
            out.setdefault(a, []).append(job)
    return out


def driver_gap(sp: Span, jobs: list[Job]) -> float:
    """Span wall minus the union of its Spark job intervals."""
    return sp.wall - union_length([(j.submit, j.end) for j in jobs],
                                  sp.start, sp.end)
