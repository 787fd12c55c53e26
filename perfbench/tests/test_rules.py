"""Unit tests for the benchmark's measurement rules.

Run with: python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import rules  # noqa: E402


def test_tail_needs_more_samples_than_beyond():
    assert rules.tail([1.0] * 10) is None
    assert rules.tail([]) is None


def test_tail_leaves_exactly_ten_samples_above():
    samples = [float(i) for i in range(1, 101)]  # 1..100, shuffled below
    samples = samples[::2] + samples[1::2]
    pct, value = rules.tail(samples)
    assert pct == 90.0
    assert value == 90.0
    assert sum(s > value for s in samples) == 10


def test_tail_with_eleven_samples_is_the_smallest():
    pct, value = rules.tail([5.0, 1.0, 9.0, 2.0, 8.0, 3.0, 7.0, 4.0, 6.0, 10.0, 11.0])
    assert value == 1.0
    assert pct == pytest.approx(100.0 / 11)


def test_self_time_subtracts_union_of_children():
    # children overlap each other and stick out of the parent on both sides
    children = [(-5.0, 2.0), (1.0, 4.0), (6.0, 7.0), (6.5, 12.0)]
    assert rules.covered(0.0, 10.0, children) == pytest.approx(4.0 + 4.0)
    assert rules.self_time(0.0, 10.0, children) == pytest.approx(2.0)


def test_self_time_without_children_is_the_duration():
    assert rules.self_time(3.0, 7.5, []) == 4.5
    assert rules.self_time(3.0, 7.5, [(8.0, 9.0), (0.0, 1.0)]) == 4.5


def _stage(sid, status, sub, done, tasks=2, failed=0, shuffle=100, **extra):
    s = {"stageId": sid, "status": status, "submissionTime": sub,
         "completionTime": done, "numCompleteTasks": tasks,
         "numFailedTasks": failed, "shuffleWriteBytes": shuffle,
         "shuffleWriteRecords": 10, "diskBytesSpilled": 0, "inputBytes": 7}
    s.update(extra)
    return s


def test_stage_window_counts_only_the_calls_completed_stages():
    stages = [
        _stage(3, "COMPLETE", 0, 100),                   # before the window
        _stage(4, "COMPLETE", 1000, 1400, tasks=4),
        _stage(5, "SKIPPED", 0, 0),                      # AQE-skipped
        _stage(6, "FAILED", 1300, 1500, tasks=0, failed=3),
        _stage(6, "COMPLETE", 1500, 1800, tasks=5, diskBytesSpilled=64),
        _stage(7, "COMPLETE", 5000, 6000),               # after the window
    ]
    got = rules.stage_window(stages, first=4, end=7, t0_ms=900.0, t1_ms=2000.0)
    assert got["stages"] == 2
    assert got["tasks"] == 9
    assert got["failed_tasks"] == 3
    assert got["shuffle_bytes"] == 200
    assert got["shuffle_records"] == 20
    assert got["spill_bytes"] == 64
    assert got["input_bytes"] == 14
    # busy 1000..1800 inside the 900..2000 call: 300 ms with no stage running
    assert got["driver_s"] == pytest.approx(0.3)
    assert got["stage_walls"] == [0.4, 0.3]


def test_stage_window_with_no_stages_is_all_driver_time():
    got = rules.stage_window([], first=0, end=0, t0_ms=0.0, t1_ms=250.0)
    assert got["stages"] == 0 and got["tasks"] == 0
    assert got["driver_s"] == pytest.approx(0.25)
