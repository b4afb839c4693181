"""Tests of the benchmark's own arithmetic (no JVM needed):

    python3 -m pytest perfbench/test_measure.py -q
"""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import measure  # noqa: E402

TINY_LOG = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                        "testdata", "tiny_eventlog.jsonl")


def test_median():
    assert measure.median([3.0, 1.0, 2.0]) == 2.0
    assert measure.median([4.0, 1.0, 3.0, 2.0]) == 2.5
    assert measure.median(x for x in (5.0, 1.0)) == 3.0
    assert measure.median([], default=0.0) == 0.0
    with pytest.raises(ValueError):
        measure.median([])


@pytest.mark.parametrize("n", [11, 12, 19, 20, 37, 100, 101, 1000])
def test_tail_keeps_at_least_ten_samples_above(n):
    values = [float(i) for i in range(n)]
    p, v = measure.tail(values)
    above = sum(x > v for x in values)
    assert above >= 10
    # one percentile higher would leave fewer than ten above
    nxt = measure.percentile(values, p + 1)
    assert sum(x > nxt for x in values) < 10


def test_tail_needs_more_than_ten_samples():
    assert measure.tail([1.0] * 10) is None
    assert measure.tail_percentile(100) == 90
    assert measure.tail_percentile(11) == 9


def test_failed_share():
    assert measure.failed_share(0, 7) == 0.0
    assert measure.failed_share(2, 8) == 0.25
    with pytest.raises(ValueError):
        measure.failed_share(0, 0)
    with pytest.raises(ValueError):
        measure.failed_share(3, 2)


def test_self_time_counts_overlapping_children_once():
    S = measure.Span
    spans = [
        S("op", 0.0, 10.0, None, "a", 0),
        S("x", 1.0, 4.0, 0, "a", 1),
        S("y", 3.0, 6.0, 0, "a", 2),   # overlaps x
        S("z", 8.0, 12.0, 0, "a", 3),  # runs past its parent
        S("w", 1.5, 2.0, 1, "a", 4),   # grandchild: not the parent's child
    ]
    selfs = measure.self_times(spans)
    assert selfs[0] == pytest.approx(10 - (5 + 2))
    assert selfs[1] == pytest.approx(3 - 0.5)
    assert selfs[4] == pytest.approx(0.5)


def test_tracer_records_parents_and_operation_ids():
    t = measure.Tracer(enabled=True)
    with t.span("op", op="op-1"):
        with t.span("child"):
            pass
    with t.span("other", op="op-2"):
        pass
    assert [(s.name, s.parent, s.op) for s in t.spans] == [
        ("op", None, "op-1"), ("child", 0, "op-1"), ("other", None, "op-2")]
    assert all(s.end >= s.start for s in t.spans)
    off = measure.Tracer(enabled=False)
    with off.span("op"):
        pass
    assert off.spans == []


def test_rollup_on_recorded_event_log():
    events = measure.read_event_log(TINY_LOG)
    jobs = [e for e in events if e["Event"] == "SparkListenerJobStart"]
    t0 = min(e["Submission Time"] for e in jobs) / 1e3
    t1 = max(e["Submission Time"] for e in jobs) / 1e3
    whole, empty = measure.rollup(events, [(t0, t1 + 60), (0.0, 1.0)],
                                  scan_needle="tiny.parquet")
    tasks = [e for e in events if e["Event"] == "SparkListenerTaskEnd"]
    assert whole.jobs == len(jobs)
    assert whole.tasks == len(tasks)
    assert whole.stages == len({e["Stage ID"] for e in tasks})
    assert whole.task_cpu_s == pytest.approx(
        sum(e["Task Metrics"]["Executor CPU Time"] for e in tasks) / 1e9)
    assert whole.shuffle_write_mb > 0 and whole.shuffle_read_mb > 0
    assert whole.input_scans == 1
    assert whole.straggler_ratio >= 1.0
    assert empty == measure.JobRollup()


def test_rollup_splits_jobs_between_windows():
    events = measure.read_event_log(TINY_LOG)
    subs = sorted(e["Submission Time"] / 1e3 for e in events
                  if e["Event"] == "SparkListenerJobStart")
    assert len(subs) >= 2
    cut = (subs[0] + subs[-1]) / 2
    first, second = measure.rollup(events, [(subs[0], cut), (cut, subs[-1])])
    both = measure.rollup(events, [(subs[0], subs[-1])])[0]
    assert first.jobs + second.jobs == both.jobs
    assert first.tasks + second.tasks == both.tasks
