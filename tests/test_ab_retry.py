"""``tools/ab.py`` retries every regression call on a second block of pairs
with fresh seeds, and confirms the call only if that block makes it too."""

from __future__ import annotations

import json

from tests.test_ab_lines import ab

with open(f"{ab.ROOT}/BENCHMARK.json") as _f:
    _METRICS = [m["name"] for m in json.load(_f)["end_to_end"]]


def _stub(monkeypatch, slow_seeds: set[int]):
    """``run_once`` without perfbench: every metric reads 1.0, except on the
    change side for ``slow_seeds``, where it reads 2.0."""
    calls = []

    def run_once(checkout, workload, seed):
        calls.append((checkout, seed))
        v = 2.0 if checkout == ab.ROOT and seed in slow_seeds else 1.0
        return {"metrics": {k: {"value": v} for k in _METRICS},
                "failed": 0, "attempted": 3, "correct": True}

    monkeypatch.setattr(ab, "run_once", run_once)
    return calls


def _jsonl(path):
    with open(path) as f:
        return [json.loads(line) for line in f]


def test_regression_confirmed_by_retry(tmp_path, monkeypatch):
    calls = _stub(monkeypatch, slow_seeds=set(range(1, 9)))
    s = ab.compare("REF", "lifecycle", 4, 1, str(tmp_path / "ab"))
    # four pairs on seeds 1-4, then four more on seeds 5-8
    assert sorted({seed for _, seed in calls}) == list(range(1, 9))
    assert len(calls) == 16
    m = s["metrics"]["query_p50_s"]
    assert m["verdict"] == "beyond bound"
    assert m["retry_verdict"] == "beyond bound" and m["confirmed"] is True
    assert [r["seed"] for r in _jsonl(tmp_path / "ab.jsonl")][::2] == [1, 2, 3, 4]
    assert [r["seed"] for r in _jsonl(tmp_path / "ab_retry.jsonl")][::2] == [5, 6, 7, 8]
    assert "confirmed" in ab.report(s)


def test_regression_not_reproduced_is_not_confirmed(tmp_path, monkeypatch):
    _stub(monkeypatch, slow_seeds={1, 2, 3, 4})
    s = ab.compare("REF", "lifecycle", 4, 1, str(tmp_path / "ab"))
    m = s["metrics"]["setup_s"]
    assert m["verdict"] == "beyond bound"
    assert m["retry_verdict"] == "noise" and m["confirmed"] is False
    assert s["retry"]["pairs"] == 4
    assert "not confirmed" in ab.report(s)


def test_no_regression_runs_no_retry(tmp_path, monkeypatch):
    calls = _stub(monkeypatch, slow_seeds=set())
    s = ab.compare("REF", "lifecycle", 3, 11, str(tmp_path / "ab"))
    assert len(calls) == 6 and "retry" not in s
    assert not (tmp_path / "ab_retry.jsonl").exists()
    assert all("confirmed" not in m for m in s["metrics"].values())
