"""The benchmark's arithmetic on synthetic inputs (no Spark):

    python3 -m pytest perfbench/test_stats.py -q
"""

import math

import pandas as pd
import pytest

import stats


def test_percentile_needs_ten_samples_beyond_it():
    assert stats.percentile(list(range(99)), 90) is None
    assert stats.percentile(list(range(100)), 90) == 89
    # the median needs only 20 samples, p99 needs 1000
    assert stats.percentile(list(range(19)), 50) is None
    assert stats.percentile(list(range(20)), 50) == 9
    assert stats.percentile(list(range(999)), 99) is None
    assert stats.percentile([], 50) is None


def test_percentile_is_nearest_rank_and_order_free():
    xs = [float(x) for x in range(1, 201)]
    assert stats.percentile(list(reversed(xs)), 90) == 180.0
    assert stats.percentile(xs, 95) == 190.0


def test_spread_is_quartile_distance_over_median():
    vals = [1.0, 2.0, 3.0, 4.0, 5.0, 6.0, 7.0, 8.0, 9.0, 10.0]
    # statistics.quantiles (exclusive): q1 = 2.75, median 5.5, q3 = 8.25
    assert stats.spread(vals) == pytest.approx((8.25 - 2.75) / 5.5)
    assert stats.spread([3.0] * 10) == 0.0


def _span(i, parent, start, end):
    return {"id": i, "parent": parent, "name": f"s{i}", "start": start,
            "end": end, "attrs": {}}


def test_self_time_subtracts_children_once():
    spans = [_span(0, None, 0.0, 10.0),
             _span(1, 0, 1.0, 4.0),
             _span(2, 0, 3.0, 5.0),      # overlaps span 1
             _span(3, 0, 9.0, 12.0),     # runs past its parent
             _span(4, 1, 1.5, 2.0)]      # grandchild: only span 1 loses it
    self_t = stats.self_times(spans)
    assert self_t[0] == pytest.approx(10.0 - 4.0 - 1.0)
    assert self_t[1] == pytest.approx(3.0 - 0.5)
    assert self_t[2] == pytest.approx(2.0)
    assert self_t[3] == pytest.approx(3.0)
    assert self_t[4] == pytest.approx(0.5)


def test_self_time_of_a_leaf_is_its_duration():
    assert stats.self_times([_span(0, None, 2.0, 2.5)]) == {
        0: pytest.approx(0.5)}


def _proc(pid, ppid, name, cpu):
    return {"pid": pid, "ppid": ppid, "name": name, "cpu_s": cpu}


def test_cpu_split_by_process_kind():
    procs = [_proc(1, 0, "init", 99.0),
             _proc(100, 1, "python3", 2.0),      # driver (root)
             _proc(101, 100, "java", 30.0),      # JVM
             _proc(102, 101, "python3", 1.0),    # pyspark daemon
             _proc(103, 102, "python3", 5.0),    # UDF worker
             _proc(104, 102, "python3", 4.0),
             _proc(200, 1, "java", 77.0)]        # someone else's JVM
    assert stats.cpu_by_kind(procs, 100) == {
        "driver": 2.0, "jvm": 30.0, "pyworker": 10.0}


def test_cpu_split_survives_a_reaped_worker():
    before = [_proc(100, 1, "python3", 2.0), _proc(101, 100, "java", 30.0),
              _proc(102, 101, "python3", 1.0),
              _proc(103, 102, "python3", 5.0)]
    # worker 103 ran 1 s more, exited, and the daemon reaped it: its
    # 6 s now sit in the daemon's reaped-children total
    after = [_proc(100, 1, "python3", 2.5), _proc(101, 100, "java", 34.0),
             _proc(102, 101, "python3", 1.0 + 6.0)]
    delta = stats.kind_delta(stats.cpu_by_kind(before, 100),
                             stats.cpu_by_kind(after, 100))
    assert delta == pytest.approx(
        {"driver": 0.5, "jvm": 4.0, "pyworker": 1.0})


def test_missing_root_gives_zero():
    assert stats.cpu_by_kind([_proc(5, 1, "java", 3.0)], 100) == {
        "driver": 0.0, "jvm": 0.0, "pyworker": 0.0}


def test_error_rate_counts_every_execution_of_a_wrong_query():
    runs = {"a": 3, "b": 3, "c": 3}
    errors = {"c": 1}
    # b's checked output was wrong, so all 3 of its executions failed;
    # c raised once and returned the right answer twice
    failed = stats.failed_count(runs, errors, {"b"})
    assert failed == 4
    assert stats.error_rate(9, failed) == pytest.approx(4 / 9)
    # a query that raised and mismatched is not counted twice
    assert stats.failed_count({"a": 2}, {"a": 1}, {"a"}) == 2
    assert stats.error_rate(5, 0) == 0.0
    with pytest.raises(ValueError):
        stats.error_rate(0, 0)


def test_frames_match_is_order_free_and_dtype_strict():
    a = pd.DataFrame({"k": [2, 1], "v": ["y", "x"]})
    b = pd.DataFrame({"v": ["x", "y"], "k": [1, 2]})
    assert stats.frames_match(a, b)
    assert not stats.frames_match(a, b.astype({"k": "float64"}))
    assert not stats.frames_match(a, b.rename(columns={"v": "w"}))
    assert not stats.frames_match(a, b.iloc[:1])
    assert not stats.frames_match(a, b.assign(v=["x", "z"]))


def test_spread_of_zero_median_is_infinite():
    assert math.isinf(stats.spread([-1.0, 0.0, 0.0, 0.0, 1.0]))
