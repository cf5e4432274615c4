"""Tests for the span recorder and the event-log collector.

    python3 -m pytest perfbench/test_spans.py -q
"""

import json
import os
import sys
import threading
from concurrent.futures import ThreadPoolExecutor

import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from spans import (Job, Recorder, attribute_jobs, driver_gap,  # noqa: E402
                   parse_event_log, span_jobs, tail, union_length)


class Clock:
    """A clock the test moves by hand."""

    def __init__(self):
        self.t = 100.0

    def __call__(self):
        return self.t

    def at(self, t):
        self.t = t


def test_union_length_merges_overlaps_and_clips():
    assert union_length([(1, 3), (2, 4), (6, 7)], 0, 10) == 4
    assert union_length([(1, 3), (2, 4)], 2.5, 3.5) == 1
    assert union_length([(5, 6)], 0, 4) == 0
    assert union_length([], 0, 4) == 0


def test_self_time_is_span_minus_union_of_children():
    clk = Clock()
    rec = Recorder(clock=clk)
    clk.at(0)
    with rec.span("parent") as parent:
        clk.at(1)
        with rec.span("a"):
            clk.at(3)
        # two children overlapping in time (pool threads) count once
        rec.spans.append(type(parent)(len(rec.spans), "b", 0, parent.sid,
                                      0, 2.0, 4.0))
        clk.at(10)
    kids = rec.children()
    assert parent.wall == 10
    assert rec.self_time(parent, kids) == pytest.approx(10 - 3)
    leaf = rec.spans[1]
    assert rec.self_time(leaf, kids) == leaf.wall == 2


def test_nesting_and_trace_ids():
    rec = Recorder()
    rec.new_trace()
    with rec.span("outer") as outer:
        with rec.span("inner") as inner:
            pass
    rec.new_trace()
    with rec.span("next") as nxt:
        pass
    assert inner.parent == outer.sid and outer.parent is None
    assert (outer.trace, inner.trace, nxt.trace) == (1, 1, 2)
    assert nxt.parent is None


def test_pool_threads_inherit_the_submitting_span():
    rec = Recorder()
    orig = ThreadPoolExecutor.submit
    rec.inherit_into_pools()
    try:
        def stage():
            with rec.span("stage") as sp:
                return sp

        with rec.span("run") as run:
            with ThreadPoolExecutor(max_workers=2) as ex:
                futs = [ex.submit(stage) for _ in range(2)]
                staged = [f.result(timeout=10) for f in futs]
    finally:
        rec.restore()
    assert all(s.parent == run.sid for s in staged)
    assert ThreadPoolExecutor.submit is orig


def test_callback_thread_nests_under_client_span():
    rec = Recorder()
    seen = {}

    def callback():
        with rec.span("plans.run") as sp:
            seen["span"] = sp

    with rec.span("streaming.run_streaming") as outer:
        th = threading.Thread(target=callback)
        th.start()
        th.join(timeout=10)
    assert not th.is_alive()
    assert seen["span"].parent == outer.sid


def test_wrap_records_and_restore_undoes():
    class Mod:
        @staticmethod
        def f(x):
            return x + 1

    rec = Recorder()
    orig = Mod.__dict__["f"]
    rec.wrap(Mod, "f", "mod.f",
             on_result=lambda sp, out, a, k: sp.attrs.update(out=out))
    assert Mod.f(1) == 2
    rec.restore()
    assert Mod.__dict__["f"] is orig
    assert [(s.name, s.attrs["out"]) for s in rec.spans] == [("mod.f", 2)]


def test_jobs_attribute_to_innermost_containing_span():
    clk = Clock()
    rec = Recorder(clock=clk)
    clk.at(0)
    with rec.span("outer") as outer:
        clk.at(2)
        with rec.span("inner") as inner:
            clk.at(5)
        clk.at(8)
    jobs = [Job(0, 1.0, 1.5, []), Job(1, 3.0, 4.0, []),
            Job(2, 6.0, 7.0, []), Job(3, 9.0, 9.5, [])]
    owner = attribute_jobs(rec.spans, jobs)
    assert owner == {0: outer.sid, 1: inner.sid, 2: outer.sid}
    incl = span_jobs(rec, jobs)
    assert [j.job_id for j in incl[outer.sid]] == [0, 1, 2]
    assert [j.job_id for j in incl[inner.sid]] == [1]
    # outer: 8 s wall, jobs cover 0.5 + 1 + 1
    assert driver_gap(outer, incl[outer.sid]) == pytest.approx(5.5)


def test_tail_is_highest_percentile_with_ten_samples_beyond():
    xs = list(range(1, 31))  # 30 samples
    v, pct, n = tail(xs)
    assert (v, n) == (20, 30)
    assert sum(1 for x in xs if x > v) == 10
    assert pct == pytest.approx(100 * 20 / 30)
    assert tail(list(range(11)))[:2] == (0, 100 * 1 / 11)
    # ten or fewer samples: no percentile has ten beyond; the maximum
    assert tail([3, 1, 2]) == (3, 100.0, 3)
    with pytest.raises(ValueError):
        tail([])


def _ev(**kw):
    return json.dumps(kw)


def test_event_log_totals_go_to_the_job_that_ran_the_stage():
    lines = [
        _ev(**{"Event": "SparkListenerJobStart", "Job ID": 0,
               "Submission Time": 1000, "Stage IDs": [0]}),
        _ev(**{"Event": "SparkListenerStageSubmitted",
               "Stage Info": {"Stage ID": 0, "Submission Time": 1001}}),
        _ev(**{"Event": "SparkListenerTaskEnd", "Stage ID": 0,
               "Task Metrics": {
                   "Executor Run Time": 500, "Executor CPU Time": 4e8,
                   "Shuffle Write Metrics": {"Shuffle Bytes Written": 70},
                   "Memory Bytes Spilled": 5, "Disk Bytes Spilled": 6}}),
        _ev(**{"Event": "SparkListenerJobEnd", "Job ID": 0,
               "Completion Time": 2000}),
        # job 1 lists stage 0 again (skipped, reused shuffle) and runs 1
        _ev(**{"Event": "SparkListenerJobStart", "Job ID": 1,
               "Submission Time": 3000, "Stage IDs": [0, 1]}),
        _ev(**{"Event": "SparkListenerStageSubmitted",
               "Stage Info": {"Stage ID": 1, "Submission Time": 3001}}),
        _ev(**{"Event": "SparkListenerTaskEnd", "Stage ID": 1,
               "Task Metrics": {
                   "Executor Run Time": 250, "Executor CPU Time": 1e8,
                   "Shuffle Read Metrics": {"Remote Bytes Read": 30,
                                            "Local Bytes Read": 40}}}),
        _ev(**{"Event": "SparkListenerJobEnd", "Job ID": 1,
               "Completion Time": 3500}),
    ]
    j0, j1 = parse_event_log(lines)
    assert (j0.submit, j0.end, j1.submit, j1.end) == (1.0, 2.0, 3.0, 3.5)
    assert j0.totals == {"tasks": 1, "executor_run_s": 0.5,
                         "executor_cpu_s": 0.4, "shuffle_write_bytes": 70,
                         "shuffle_read_bytes": 0, "spill_bytes": 11}
    assert j1.totals["tasks"] == 1
    assert j1.totals["shuffle_read_bytes"] == 70
    assert j1.totals["executor_run_s"] == 0.25
