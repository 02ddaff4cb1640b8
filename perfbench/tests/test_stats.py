"""Tests of the benchmark's pure helpers. Run from the repository root:
python -m pytest perfbench/tests -q"""

from __future__ import annotations

from datetime import datetime

import pytest

from perfbench import stats


def test_union_length_merges_overlaps_and_gaps():
    assert stats.union_length([]) == 0.0
    assert stats.union_length([(0, 2), (1, 3)]) == 3
    assert stats.union_length([(0, 1), (2, 3)]) == 2
    assert stats.union_length([(0, 10), (2, 3), (4, 5)]) == 10
    # touching spans merge; empty and reversed spans count nothing
    assert stats.union_length([(0, 1), (1, 2), (5, 5), (7, 6)]) == 2


def test_driver_only_is_pass_wall_minus_job_union():
    jobs = [(1.0, 3.0), (2.0, 4.0), (6.0, 7.0)]
    assert stats.uncovered(0.0, 10.0, jobs) == pytest.approx(10 - 4)
    # jobs reaching outside the pass are clipped to it
    assert stats.uncovered(2.5, 6.5, jobs) == pytest.approx(4.0 - 1.5 - 0.5)
    assert stats.uncovered(0.0, 1.0, []) == 1.0


def test_tail_percentile_keeps_ten_samples_beyond():
    xs = [float(i) for i in range(1, 101)]
    p, v = stats.tail_percentile(xs)
    assert (p, v) == (90, 90.0)
    assert sum(x > v for x in xs) == 10
    p, v = stats.tail_percentile(list(reversed(xs[:11])))
    assert sum(x > v for x in xs[:11]) == 10
    assert (p, v) == (9, 1.0)
    p, v = stats.tail_percentile([float(i) for i in range(27)])
    assert p == 62 and sum(x > v for x in range(27)) >= 10
    with pytest.raises(ValueError):
        stats.tail_percentile([1.0] * 10)


def test_median():
    assert stats.median([3.0, 1.0, 2.0]) == 2.0
    assert stats.median([4.0, 1.0, 2.0, 3.0]) == 2.5
    with pytest.raises(ValueError):
        stats.median([])


@pytest.mark.parametrize(
    "text,value",
    [
        ("1.8 s", 1.8),
        ("824 ms", 0.824),
        ("2.0 m", 120.0),
        ("16.1 KiB", 16.1 * 1024),
        ("3.5 MiB", 3.5 * 1024 * 1024),
        ("0 B", 0.0),
        ("1,234", 1234.0),
        ("total (min, med, max (stageId: taskId))\n2.4 s (1.2 s, 1.2 s, 1.2 s (stage 3.0: task 5))", 2.4),
        ("total (min, med, max (stageId: taskId))\n27.7 KiB (13.8 KiB, 13.8 KiB, 13.9 KiB (stage 1.0: task 2))", 27.7 * 1024),
    ],
)
def test_parse_sql_metric(text, value):
    assert stats.parse_sql_metric(text) == pytest.approx(value)


def test_parse_sql_metric_rejects_unknown_units():
    with pytest.raises(ValueError):
        stats.parse_sql_metric("3 parsecs")
    with pytest.raises(ValueError):
        stats.parse_sql_metric("")


def test_seed_gives_the_order_and_different_seeds_differ():
    names = [f"q{i}" for i in range(27)]
    a = stats.pass_order(names, 7, 1)
    assert a == stats.pass_order(names, 7, 1)
    assert sorted(a) == sorted(names)
    assert a != stats.pass_order(names, 7, 2)
    assert a != stats.pass_order(names, 8, 1)
    # pinned: the order must not change across Python builds
    assert stats.pass_order(list("abcdef"), 1, 0) == list("aebcdf")


def test_seed_gives_the_rows():
    a = stats.event_rows(3, 500)
    assert a == stats.event_rows(3, 500)
    assert a != stats.event_rows(4, 500)
    assert a["event_id"] == list(range(500))
    assert a["ts"] == sorted(a["ts"])
    assert set(a["event_type"]) <= set(stats.EVENT_TYPES)
    assert all(len(col) == 500 for col in a.values())
    assert all(round(v, 2) == v for v in a["value"])


def test_count_in_window_is_closed():
    ts = [datetime(2024, 3, 1, h) for h in range(5)]
    assert stats.count_in_window(ts, datetime(2024, 3, 1, 1), datetime(2024, 3, 1, 3)) == 3


def test_digest_ignores_row_order():
    rows = [("a", "1"), ("b", "2")]
    assert stats.digest(rows) == stats.digest(list(reversed(rows)))
    assert stats.digest(rows) != stats.digest(rows[:1])
