"""Repeat benchmark runs over seeds and summarise their steadiness.

    python3 perfbench/steadiness.py --workloads analytics,lifecycle \
        --seeds 1-10 --seconds 10 --out perfbench/results/runs.jsonl
    python3 perfbench/steadiness.py --summarise perfbench/results/runs.jsonl
    python3 perfbench/steadiness.py --report SET1.jsonl SET2.jsonl TRACED.jsonl

Each run is one ``perfbench/run.py`` process; its result line and wall time
are appended to ``--out`` as they finish. The summary gives, per workload
and metric, the median, quartiles and (Q3 - Q1) / median, the figure each
metric's bound in BENCHMARK.json is checked against.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

from perfbench import metrics  # noqa: E402


def _seeds(spec: str) -> list[int]:
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def run_once(workload: str, seed: int, seconds: float, trace: int, spans_out: str | None) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    if spans_out:
        cmd += ["--spans-out", spans_out]
    t = time.perf_counter()
    proc = subprocess.run(cmd, capture_output=True, text=True, cwd=os.path.dirname(HERE))
    wall = time.perf_counter() - t
    lines = proc.stdout.strip().splitlines()
    rec = {"workload": workload, "seed": seed, "trace": trace, "rc": proc.returncode,
           "wall_s": wall, "report": [ln for ln in lines if ln.startswith("#")]}
    try:
        rec["result"] = json.loads(lines[-1])
    except (IndexError, json.JSONDecodeError):
        rec["result"] = None
        rec["stderr_tail"] = proc.stderr[-2000:]
    return rec


def _records(paths: list[str]):
    for path in paths:
        with open(path) as f:
            for line in f:
                yield json.loads(line)


def summarise(paths: list[str]) -> dict:
    by: dict[tuple, dict[str, list[float]]] = {}
    walls: dict[tuple, list[float]] = {}
    for rec in _records(paths):
        key = (rec["workload"], rec["trace"])
        walls.setdefault(key, []).append(rec["wall_s"])
        if not rec.get("result"):
            continue
        vals = by.setdefault(key, {})
        for name, m in rec["result"]["metrics"].items():
            vals.setdefault(name, []).append(m["value"])
        # the end-to-end lines also give each time as measured, steal included
        for ln in rec["report"]:
            name, eq, rest = ln[2:].partition(" = ")
            if eq and "; measured " in rest:
                measured = float(rest.rsplit(" ", 1)[1].rstrip(")"))
                vals.setdefault(f"measured.{name}", []).append(measured)

    def describe(xs: list[float]) -> dict:
        return metrics.quartile_spread(xs) if len(xs) >= 2 else {"value": xs[0], "n": 1}

    out = {}
    for (wl, trace), ms in sorted(by.items()):
        entry = {"runs": len(walls[(wl, trace)]), "wall_s": describe(walls[(wl, trace)])}
        entry.update({name: describe(xs) for name, xs in ms.items()})
        out[f"{wl}/trace{trace}"] = entry
    return out


def _centre(d: dict) -> float:
    return d["median"] if "median" in d else d["value"]


def report(first: str, second: str, traced: str) -> dict:
    """The committed summary: each set of untraced runs; the second set's
    medians against the first's, (second - first) / first; and the traced
    runs, with their measured pass_s against the untraced runs' (what
    tracing costs in all)."""
    a, b, t = summarise([first]), summarise([second]), summarise([traced])
    shift = {
        key: {name: (_centre(b[key][name]) - _centre(s)) / _centre(s)
              for name, s in entry.items() if isinstance(s, dict) and name != "wall_s"}
        for key, entry in a.items() if key in b
    }
    both = summarise([first, second])
    for key, entry in t.items():
        plain = both.get(key.replace("trace1", "trace0"))
        if plain and "measured.pass_s" in entry:
            entry["traced_vs_untraced_pass"] = (
                _centre(entry["measured.pass_s"]) / _centre(plain["measured.pass_s"]) - 1.0)
    return {"set1": a, "set2": b, "set2_vs_set1_median_shift": shift, "traced": t}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workloads", default="analytics,lifecycle")
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--out", default=os.path.join(HERE, "results", "runs.jsonl"))
    ap.add_argument("--spans-dir", default=None, help="traced runs: keep spans here")
    ap.add_argument("--summarise", nargs="+", help="only summarise these runs files")
    ap.add_argument("--report", nargs=3, metavar=("SET1", "SET2", "TRACED"),
                    help="only print the summary of two sets of runs and the traced runs")
    args = ap.parse_args()
    if args.summarise:
        print(json.dumps(summarise(args.summarise), indent=1))
        return 0
    if args.report:
        print(json.dumps(report(*args.report), indent=1))
        return 0
    os.makedirs(os.path.dirname(os.path.abspath(args.out)), exist_ok=True)
    for seed in _seeds(args.seeds):
        for wl in args.workloads.split(","):
            spans = (os.path.join(args.spans_dir, f"spans_{wl}_{seed}.jsonl")
                     if args.spans_dir else None)
            rec = run_once(wl, seed, args.seconds, args.trace, spans)
            with open(args.out, "a") as f:
                f.write(json.dumps(rec) + "\n")
            res = rec["result"]
            print(f"{wl} seed={seed} rc={rec['rc']} wall={rec['wall_s']:.1f}s "
                  f"failed={res and res['failed']}", flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
