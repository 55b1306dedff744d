"""Unit tests of the benchmark's pure-Python helpers (no Spark):

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from spans import Span, layer_metrics  # noqa: E402
from stats import fold_event_log, self_time, tail_percentile, union_length  # noqa: E402


# ------------------------------------------------ the >=10-beyond percentile
def test_tail_percentile_leaves_ten_samples_beyond():
    xs = [float(i) for i in range(1, 41)]  # 1..40, shuffled order is irrelevant
    p, v = tail_percentile(list(reversed(xs)))
    assert p == 75.0 and v == 30.0
    assert sum(x > v for x in xs) == 10


def test_tail_percentile_grows_with_the_sample_count():
    p100, v100 = tail_percentile([float(i) for i in range(100)])
    assert p100 == 90.0 and v100 == 89.0
    p11, v11 = tail_percentile([float(i) for i in range(11)])
    assert p11 == pytest.approx(100 / 11) and v11 == 0.0


def test_tail_percentile_needs_more_than_ten_samples():
    with pytest.raises(ValueError):
        tail_percentile([1.0] * 10)


# --------------------------------------------- self time with overlapping children
def test_union_counts_overlap_once():
    assert union_length([(0, 4), (2, 6), (8, 9)]) == 7
    assert union_length([(3, 3), (5, 4)]) == 0  # empty and inverted intervals


def test_self_time_subtracts_union_not_sum():
    # two concurrent commits (the runner's two-thread pool) cover [2, 8]
    assert self_time((0, 10), [(2, 7), (3, 8)]) == 4
    # the sum of the children (10) would exceed the parent's 10 s
    assert self_time((0, 10), [(0, 5), (0, 5), (5, 10)]) == 0


def test_self_time_clips_children_to_the_parent():
    assert self_time((1, 5), [(0, 2), (4, 9)]) == 2


def test_layer_metrics_commit_union_and_self_time():
    spans = [
        Span(0, "runner.apply_batch", None, 0.0, 10.0),
        Span(1, "wal.read_batch", 0, 0.0, 1.0),
        Span(2, "table.commit_delta_auto", 0, 2.0, 7.0),  # state target
        Span(3, "table.commit_delta_auto", 0, 3.0, 8.0),  # MEDS target
        Span(4, "views.agg_refresh", 0, 8.0, 9.0),
        Span(5, "table.commit_delta_auto", 4, 8.5, 9.0),  # the view's own
    ]
    spark = {"2": {"jobs": 1, "last_job_end": 6.0, "output_mb": 2.0},
             "3": {"jobs": 1, "last_job_end": 7.5, "output_mb": 3.0},
             "5": {"jobs": 1, "last_job_end": 8.9, "output_mb": 9.0}}
    m = layer_metrics(spans, spark, [], {})
    assert m["table.commit_s"] == 6.0
    assert m["table.commit.jobs"] == 2 and m["table.commit.output_mb"] == 5.0
    assert m["table.commit.post_job_s"] == 0.5
    assert m["runner.apply_batch.self_s"] == 2.0  # 10 - |[0,1] u [2,8] u [8,9]|
    assert m["views.agg_refresh_s"] == 1.0


# ------------------------------------------- folding Spark task metrics
def _ev(kind: str, **kw) -> str:
    return json.dumps({"Event": kind, **kw})


def _task(stage: int, run_ms: int, gc_ms: int, shuffle: int = 0, inp: int = 0, out: int = 0) -> str:
    return _ev("SparkListenerTaskEnd", **{
        "Stage ID": stage, "Stage Attempt ID": 0,
        "Task Metrics": {
            "Executor Run Time": run_ms, "JVM GC Time": gc_ms,
            "Shuffle Write Metrics": {"Shuffle Bytes Written": shuffle},
            "Input Metrics": {"Bytes Read": inp},
            "Output Metrics": {"Bytes Written": out}}})


FIXTURE = [
    _ev("SparkListenerJobStart", **{"Job ID": 0, "Submission Time": 1000,
                                    "Stage IDs": [0, 1], "Properties": {"k": "7"}}),
    _ev("SparkListenerStageSubmitted", **{"Stage Info": {"Stage ID": 0, "Stage Attempt ID": 0},
                                          "Properties": {"k": "7"}}),
    _task(0, 1500, 100, shuffle=2_000_000, inp=4_000_000),
    _task(0, 500, 0, shuffle=1_000_000),
    _ev("SparkListenerStageSubmitted", **{"Stage Info": {"Stage ID": 1, "Stage Attempt ID": 0},
                                          "Properties": {"k": "7"}}),
    _task(1, 250, 50, out=3_000_000),
    _ev("SparkListenerJobEnd", **{"Job ID": 0, "Completion Time": 4500}),
    # a job from a thread without an open span: not attributed
    _ev("SparkListenerJobStart", **{"Job ID": 1, "Submission Time": 5000,
                                    "Stage IDs": [2], "Properties": {}}),
    _ev("SparkListenerStageSubmitted", **{"Stage Info": {"Stage ID": 2, "Stage Attempt ID": 0},
                                          "Properties": {}}),
    _task(2, 9999, 9999),
    _ev("SparkListenerJobEnd", **{"Job ID": 1, "Completion Time": 6000}),
    _ev("SparkListenerJobStart", **{"Job ID": 2, "Submission Time": 7000,
                                    "Stage IDs": [3], "Properties": {"k": "8"}}),
    _ev("SparkListenerJobEnd", **{"Job ID": 2, "Completion Time": 7100}),
    "",
]


def test_fold_event_log_attributes_tasks_through_stages():
    got = fold_event_log(FIXTURE, "k")
    assert set(got) == {"7", "8"}
    a = got["7"]
    assert a["jobs"] == 1 and a["tasks"] == 3
    assert a["executor_run_s"] == pytest.approx(2.25)
    assert a["gc_s"] == pytest.approx(0.15)
    assert a["shuffle_write_mb"] == pytest.approx(3.0)
    assert a["input_mb"] == pytest.approx(4.0)
    assert a["output_mb"] == pytest.approx(3.0)
    assert a["last_job_end"] == 4.5
    assert got["8"]["jobs"] == 1 and got["8"]["tasks"] == 0
