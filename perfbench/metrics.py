"""Metric arithmetic, kept free of Spark so it can be tested on synthetic inputs."""

from __future__ import annotations

import math
import statistics


def percentile(values: list[float], p: float) -> float:
    """``p``-th percentile (0-100) by linear interpolation between the
    closest ranks, the same rule as ``numpy.percentile``'s default."""
    if not values:
        raise ValueError("percentile of no samples")
    xs = sorted(values)
    k = (len(xs) - 1) * p / 100.0
    lo, hi = math.floor(k), math.ceil(k)
    return xs[lo] + (xs[hi] - xs[lo]) * (k - lo)


def latency_summary(values: list[float]) -> dict:
    """Median and 90th percentile with the sample count they rest on."""
    return {"p50": percentile(values, 50), "p90": percentile(values, 90), "n": len(values)}


def is_empty_task(task: dict) -> bool:
    """A task that read no input record and no shuffle record (the status
    store's ``TaskData`` JSON): pure scheduling overhead."""
    m = task.get("taskMetrics") or {}
    read = (m.get("inputMetrics") or {}).get("recordsRead", 0)
    shuffled = (m.get("shuffleReadMetrics") or {}).get("recordsRead", 0)
    return read == 0 and shuffled == 0


def task_counts(tasks: list[dict]) -> tuple[int, int]:
    """(tasks, empty tasks) over finished tasks."""
    done = [t for t in tasks if t.get("status") == "SUCCESS"]
    return len(done), sum(is_empty_task(t) for t in done)


def useful_task_frac(tasks: int, empty: int) -> float:
    return 1.0 - empty / tasks if tasks else 1.0


def bytes_per_data_byte(table_dir_bytes: int, live_data_bytes: int) -> float:
    """Bytes stored under a table directory per byte of data files live in
    its current snapshot (1.0 means no metadata, no dead files)."""
    if live_data_bytes <= 0:
        raise ValueError("table has no live data bytes")
    return table_dir_bytes / live_data_bytes


def failed_frac(failed: int, attempted: int) -> float:
    if attempted <= 0:
        raise ValueError("no operation attempted")
    return failed / attempted


def self_times(spans: list[dict]) -> dict[str, float]:
    """Seconds each layer spent in its own spans, not in child spans.

    A span is ``{"id", "parent", "layer", "start", "end"}``; its self time is
    its duration minus the union of its direct children's intervals,
    clipped to the span."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append((s["start"], s["end"]))
    out: dict[str, float] = {}
    for s in spans:
        covered, cur_lo, cur_hi = 0.0, None, None
        for lo, hi in sorted(children.get(s["id"], [])):
            lo, hi = max(lo, s["start"]), min(hi, s["end"])
            if hi <= lo:
                continue
            if cur_hi is None or lo > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = lo, hi
            else:
                cur_hi = max(cur_hi, hi)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        own = (s["end"] - s["start"]) - covered
        out[s["layer"]] = out.get(s["layer"], 0.0) + own
    return out


def quartile_spread(values: list[float]) -> dict:
    """Median, quartiles and (Q3 - Q1) / median, the steadiness figure the
    benchmark is judged by (``statistics.quantiles(values, n=4)``)."""
    q1, q2, q3 = statistics.quantiles(values, n=4)
    med = statistics.median(values)
    return {
        "median": med,
        "q1": q1,
        "q3": q3,
        "spread": (q3 - q1) / med if med else math.inf,
        "n": len(values),
    }
