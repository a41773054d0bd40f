"""The driver's verification order, derived from the committed
``CORRECTNESS_r<N>.json`` driver results (registry.driver_order)."""

from __future__ import annotations

import glob
import json
import os

import pytest

import __spark_entry__ as e
from apache_iceberg_demo_spark import registry

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
_HEAD = registry._HEAD

GREEN = {"hash_match": True, "err": None, "spark_rows": 3}
RED = {"hash_match": False, "err": "hash mismatch", "spark_rows": 3}
ROWS_ONLY = {"hash_match": None, "err": "no_oracle", "spark_rows": 3}


def _write(root, rnd: str, rows: dict) -> None:
    (root / f"CORRECTNESS_r{rnd}.json").write_text(json.dumps(rows))


def test_red_latest_row_needs_a_check(tmp_path):
    _write(tmp_path, "01", {"q_a": GREEN, "q_b": GREEN})
    _write(tmp_path, "02", {"q_a": RED})
    order, unchecked = registry.driver_order(["q_a", "q_b"], set(), str(tmp_path))
    assert unchecked == ["q_a"]
    assert order == ["q_a", "q_b"]


def test_rows_only_green_counts_only_without_an_oracle(tmp_path):
    _write(tmp_path, "01", {"q_paired": ROWS_ONLY, "q_plain": ROWS_ONLY})
    order, unchecked = registry.driver_order(
        ["q_plain", "q_paired"], {"q_paired"}, str(tmp_path)
    )
    assert unchecked == ["q_paired"]
    assert order == ["q_paired", "q_plain"]


def test_older_rounds_first_then_by_name(tmp_path):
    _write(tmp_path, "2", {"q_z": GREEN, "q_c": GREEN})
    _write(tmp_path, "10", {"q_a": GREEN, "q_b": GREEN, "q_c": GREEN})
    order, unchecked = registry.driver_order(
        ["q_a", "q_b", "q_c", "q_z"], set(), str(tmp_path)
    )
    assert unchecked == []
    assert order == ["q_z", "q_a", "q_b", "q_c"]


def test_head_leads_whatever_the_record(tmp_path):
    _write(tmp_path, "01", {_HEAD[1]: RED, _HEAD[0]: GREEN})
    order, unchecked = registry.driver_order(
        ["q_new", _HEAD[1], _HEAD[0]], set(), str(tmp_path)
    )
    assert order == [_HEAD[0], _HEAD[1], "q_new"]
    assert unchecked == ["q_new"]


def test_no_record_puts_everyone_in_the_unchecked_tier(tmp_path):
    order, unchecked = registry.driver_order(
        ["q_c", "q_b", "q_a"], {"q_c"}, str(tmp_path)
    )
    assert unchecked == order == ["q_c", "q_a", "q_b"]


@pytest.mark.parametrize("text", ["{not json", '{"q_a": {"err": null}}'])
def test_malformed_record_raises(tmp_path, text):
    (tmp_path / "CORRECTNESS_r01.json").write_text(text)
    with pytest.raises((ValueError, KeyError)):
        registry.driver_order(["q_a"], set(), str(tmp_path))


def test_repo_order_is_head_then_stalest_green():
    """On the committed record: ``_HEAD`` (each name registered once), then
    the queries with no green driver row, then the rest by last green round,
    ties by name. At the r16 record that is the 34 r10 names outside
    ``_HEAD`` (the other 4 of the 38 are in it), then the r11 names."""
    qs = list(e.queries())
    assert len(set(_HEAD)) == len(_HEAD) and set(_HEAD) <= set(qs)
    assert qs[: len(_HEAD)] == _HEAD
    last: dict[str, int] = {}
    for path in glob.glob(os.path.join(ROOT, "CORRECTNESS_r*.json")):
        rnd = int(os.path.basename(path)[len("CORRECTNESS_r") : -len(".json")])
        with open(path) as f:
            for name, row in json.load(f).items():
                rows_only = row["err"] == "no_oracle" and row["spark_rows"] >= 0
                if row["hash_match"] or rows_only:
                    last[name] = max(rnd, last.get(name, 0))
    rest = qs[len(_HEAD) :]
    fresh = [n for n in rest if n not in last]
    assert rest[: len(fresh)] == fresh
    aged = rest[len(fresh) :]
    assert aged == sorted(aged, key=lambda n: (last[n], n))
