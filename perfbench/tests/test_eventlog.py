"""Folding a recorded Spark event log into per-layer task metrics.

``data/tiny_eventlog.json`` is a trimmed log of three groups of two jobs
each on ``local[2]``: an ungrouped ``range(4).count()``, a shuffle
``groupBy`` under job group ``graph`` and a ``count()`` under group
``operators.wcc``.
"""

from __future__ import annotations

import os

import pytest

from perfbench import trace

LOG = os.path.join(os.path.dirname(__file__), "data", "tiny_eventlog.json")


def _fold(since_ms=0.0):
    with open(LOG) as f:
        return trace.fold_event_log(f, since_ms)


def test_jobs_and_tasks_go_to_their_job_group():
    metrics, intervals = _fold()
    assert set(metrics) == {trace.BENCH, "graph", "operators.wcc"}
    for group in metrics:
        assert metrics[group]["jobs"] == 2
        assert metrics[group]["tasks"] == 3
        assert metrics[group]["failed_tasks"] == 0
        assert len(intervals[group]) == 3


def test_shuffle_bytes_are_summed_per_group():
    metrics, _ = _fold()
    mb = 2.0**20
    assert metrics["graph"]["shuffle_write_mb"] == pytest.approx(266 / mb)
    assert metrics["graph"]["shuffle_read_mb"] == pytest.approx(266 / mb)
    assert metrics["operators.wcc"]["shuffle_write_mb"] == pytest.approx(118 / mb)
    assert metrics["graph"]["task_run_s"] > 0
    assert metrics["graph"]["task_cpu_s"] > 0


def test_jobs_before_the_window_are_left_out():
    # the graph group's first job was submitted at 1792195846959 ms
    metrics, _ = _fold(since_ms=1792195846959)
    assert set(metrics) == {"graph", "operators.wcc"}
    assert metrics["graph"]["jobs"] == 2


def test_task_intervals_are_in_seconds():
    _, intervals = _fold()
    assert (1792195846.978, 1792195847.154) in intervals["graph"]


def test_covered_time_is_the_overlap_of_spans_and_task_union():
    spans = [(0.0, 10.0), (20.0, 30.0)]
    tasks = [(1.0, 3.0), (2.0, 4.0), (9.0, 21.0), (40.0, 50.0)]
    # [1,4] + [9,10] + [20,21]
    assert trace.covered_s(spans, tasks) == pytest.approx(5.0)
    assert trace.covered_s(spans, []) == 0.0
