"""Metric arithmetic on synthetic inputs: python3 -m pytest perfbench -q"""

import math
import statistics

import pytest

from perfbench import hostspeed, metrics


def test_percentile_interpolates_between_ranks():
    xs = [float(i) for i in range(1, 11)]  # 1..10
    assert metrics.percentile(xs, 50) == 5.5
    assert metrics.percentile(xs, 90) == pytest.approx(9.1)
    assert metrics.percentile(xs, 0) == 1.0
    assert metrics.percentile(xs, 100) == 10.0
    assert metrics.percentile([3.0], 90) == 3.0
    assert metrics.percentile([5.0, 1.0, 3.0], 50) == 3.0  # order-free
    with pytest.raises(ValueError):
        metrics.percentile([], 50)


def test_latency_summary_states_its_sample_counts():
    xs = [float(i) for i in range(100)]
    s = metrics.latency_summary(xs)
    assert s["n"] == 100
    assert s["p50"] == 49.5
    assert s["p90"] == pytest.approx(89.1)


def _task(status="SUCCESS", read=0, shuffled=0):
    return {"status": status, "taskMetrics": {
        "inputMetrics": {"recordsRead": read},
        "shuffleReadMetrics": {"recordsRead": shuffled}}}


def test_empty_task_needs_no_input_and_no_shuffle_records():
    assert metrics.is_empty_task(_task())
    assert not metrics.is_empty_task(_task(read=1))
    assert not metrics.is_empty_task(_task(shuffled=3))
    assert metrics.is_empty_task({"status": "SUCCESS", "taskMetrics": None})


def test_task_counts_skip_unfinished_tasks():
    tasks = [_task(), _task(read=5), _task(shuffled=2), _task(), _task("FAILED")]
    assert metrics.task_counts(tasks) == (4, 2)
    assert metrics.useful_task_frac(4, 2) == 0.5
    assert metrics.useful_task_frac(0, 0) == 1.0


def test_bytes_per_data_byte():
    assert metrics.bytes_per_data_byte(4500, 1000) == 4.5
    assert metrics.bytes_per_data_byte(1000, 1000) == 1.0
    with pytest.raises(ValueError):
        metrics.bytes_per_data_byte(10, 0)


def test_failed_frac():
    assert metrics.failed_frac(0, 14) == 0.0
    assert metrics.failed_frac(1, 4) == 0.25
    with pytest.raises(ValueError):
        metrics.failed_frac(0, 0)


def _span(sid, parent, layer, start, end):
    return {"id": sid, "parent": parent, "layer": layer, "start": start, "end": end}


def test_self_time_subtracts_the_union_of_children():
    spans = [
        _span(0, None, "bench", 0.0, 10.0),
        _span(1, 0, "operators", 1.0, 4.0),
        _span(2, 0, "spark", 3.0, 6.0),   # overlaps span 1: union is 1..6
        _span(3, 1, "io", 2.0, 2.5),      # grandchild: not subtracted from 0
        _span(4, 0, "caching", 8.0, 12.0),  # runs past its parent: clipped
    ]
    st = metrics.self_times(spans)
    assert st["bench"] == pytest.approx(10.0 - 5.0 - 2.0)
    assert st["operators"] == pytest.approx(3.0 - 0.5)
    assert st["spark"] == pytest.approx(3.0)
    assert st["io"] == pytest.approx(0.5)
    assert st["caching"] == pytest.approx(4.0)


def test_quartile_spread_matches_statistics_quantiles():
    xs = [10.0, 11.0, 9.0, 10.5, 12.0, 9.5, 10.2, 10.1, 9.9, 10.3]
    q1, _, q3 = statistics.quantiles(xs, n=4)
    s = metrics.quartile_spread(xs)
    assert (s["q1"], s["q3"], s["n"]) == (q1, q3, 10)
    assert s["spread"] == pytest.approx((q3 - q1) / statistics.median(xs))
    assert math.isinf(metrics.quartile_spread([0.0, 0.0, 0.0])["spread"])


def test_unstolen_takes_out_the_stolen_share():
    # 4 vCPUs busy for 10 s of wall, 1 s of it stolen from each
    assert hostspeed.unstolen(10.0, busy=36, steal=4) == pytest.approx(9.0)
    # one vCPU busy, stolen for half of the time: the rest ran on it alone
    assert hostspeed.unstolen(2.0, busy=100, steal=100) == pytest.approx(1.0)
    assert hostspeed.unstolen(3.0, busy=120, steal=0) == 3.0
    assert hostspeed.unstolen(0.001, busy=0, steal=0) == 0.001
