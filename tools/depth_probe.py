"""Commit-depth probe: append and read latency of a git revision's
warehouse against this checkout's, as a table's commit history grows.

    python3 tools/depth_probe.py REF [--pairs N] [--out PREFIX]
    python3 tools/depth_probe.py --summarise PREFIX.jsonl

REF is exported with ``tools/ab.py``'s ``export_ref``. Both sides run in
one Spark session (``get_spark`` at ``local[SPARK_GRAFT_CPUS]``): each
side's ``Warehouse`` class is loaded from its own ``sources/warehouse.py``,
the rest of the package is this checkout's. Each side builds its own
table, since two revisions need not share a metadata layout:
``create_or_replace``, then 150 appends of 1000 rows into a 4-value
identity-partitioned table (``p = id % 4``). Append i runs on both sides
back to back, and the side that goes first alternates with i. Then
``read().count()`` at depth 150 runs N pairs (default 10), alternating
the same way after one discarded warm-up pair.

Writes ``PREFIX.jsonl`` (one line per timing: side, op, depth, pair,
seconds, rows) and ``PREFIX.json``, the summary, and prints it: per side
the median of the ten appends ending at depth 10, 50 and 150, and the
depth-150 read's medians, the parent's quartile spread (IQR) and the
pairs the change won. It is a report, not a gate: the appends at one
depth are single runs of neighbouring depths.
"""

from __future__ import annotations

import argparse
import importlib.util
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from ab import export_ref, quartiles  # noqa: E402  (tools/ is the script's dir)

DEPTHS = (10, 50, 150)
ROWS = 1000
WINDOW = 10  # appends summarised per depth: the ten ending at it


def load_warehouse(checkout: str, tag: str):
    """The checkout's ``Warehouse`` class under its own module name, with
    ``register`` a no-op while it loads (its registered queries are not
    needed, and registering them twice would raise)."""
    from apache_iceberg_demo_spark import registry

    path = os.path.join(checkout, "apache_iceberg_demo_spark", "sources", "warehouse.py")
    spec = importlib.util.spec_from_file_location(f"warehouse_{tag}", path)
    mod = importlib.util.module_from_spec(spec)
    register = registry.register
    registry.register = lambda *a, **k: (lambda fn: fn)
    try:
        spec.loader.exec_module(mod)
    finally:
        registry.register = register
    return mod.Warehouse


def probe(ref_dir: str, pairs: int, out) -> None:
    from apache_iceberg_demo_spark.session import get_spark

    spark = get_spark("depth_probe")
    spark.sparkContext.setLogLevel("ERROR")
    root = tempfile.mkdtemp(prefix="depth_probe_")
    try:
        whs = {
            side: load_warehouse(checkout, side)(spark, os.path.join(root, side))
            for side, checkout in (("parent", ref_dir), ("change", ROOT))
        }

        def emit(**rec) -> None:
            out.write(json.dumps(rec) + "\n")
            out.flush()

        def batch(i: int):
            return spark.range(i * ROWS, (i + 1) * ROWS).selectExpr(
                "id", "CAST(id % 4 AS INT) AS p", "id * 3 AS v"
            )

        for wh in whs.values():
            wh.create_or_replace("t", batch(0), partition_by="p")
        for i in range(1, max(DEPTHS) + 1):
            for side in ("parent", "change") if i % 2 else ("change", "parent"):
                t0 = time.perf_counter()
                whs[side].append("t", batch(i))
                emit(side=side, op="append", depth=i, pair=None,
                     s=round(time.perf_counter() - t0, 4), rows=ROWS)
        for pair in range(pairs + 1):  # pair 0 is the discarded warm-up
            for side in ("parent", "change") if pair % 2 else ("change", "parent"):
                t0 = time.perf_counter()
                n = whs[side].read("t").count()
                if pair:
                    emit(side=side, op="read_count", depth=max(DEPTHS), pair=pair,
                         s=round(time.perf_counter() - t0, 4), rows=n)
    finally:
        spark.stop()
        shutil.rmtree(root, ignore_errors=True)


def summarise(rows: list[dict]) -> dict:
    def times(side: str, op: str, depths) -> list[float]:
        return [r["s"] for r in rows if r["side"] == side and r["op"] == op
                and r["depth"] in depths]

    out: dict = {"append_median_s": {}, "read_count": {}}
    for d in DEPTHS:
        window = range(d - WINDOW + 1, d + 1)
        out["append_median_s"][d] = {
            side: statistics.median(times(side, "append", window))
            for side in ("parent", "change")
        }
    reads = {side: times(side, "read_count", (max(DEPTHS),)) for side in ("parent", "change")}
    by_pair = {(r["pair"], r["side"]): r["s"] for r in rows if r["op"] == "read_count"}
    lo, pm, hi = quartiles(reads["parent"])
    out["read_count"] = {
        "depth": max(DEPTHS), "pairs": len(reads["parent"]),
        "parent_median_s": pm, "parent_iqr_s": hi - lo,
        "change_median_s": statistics.median(reads["change"]),
        "change_won": sum(by_pair[p, "change"] < by_pair[p, "parent"]
                          for p, side in by_pair if side == "parent"),
        "rows": sorted({r["rows"] for r in rows if r["op"] == "read_count"}),
    }
    return out


def report(s: dict) -> str:
    lines = [
        f"append depth {d:3d} (median of {WINDOW})  parent {m['parent']:.3f} s"
        f"  change {m['change']:.3f} s"
        for d, m in s["append_median_s"].items()
    ]
    r = s["read_count"]
    lines.append(
        f"read().count() depth {r['depth']}  parent {r['parent_median_s']:.3f} s"
        f" (IQR {r['parent_iqr_s']:.3f})  change {r['change_median_s']:.3f} s"
        f"  won {r['change_won']}/{r['pairs']}  rows {r['rows']}"
    )
    return "\n".join(lines)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("ref", nargs="?")
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--out", default="depth_probe", help="output prefix")
    ap.add_argument("--summarise", metavar="JSONL")
    args = ap.parse_args()
    if args.summarise:
        with open(args.summarise) as f:
            print(report(summarise([json.loads(line) for line in f])))
        return 0
    if not args.ref:
        ap.error("REF is required unless --summarise is given")
    commit = subprocess.run(["git", "-C", ROOT, "rev-parse", args.ref], check=True,
                            capture_output=True, text=True).stdout.strip()
    ref_dir = export_ref(commit)
    try:
        with open(args.out + ".jsonl", "w") as f:
            probe(ref_dir, args.pairs, f)
    finally:
        shutil.rmtree(ref_dir, ignore_errors=True)
    with open(args.out + ".jsonl") as f:
        s = summarise([json.loads(line) for line in f])
    s.update(ref=args.ref, ref_commit=commit)
    with open(args.out + ".json", "w") as f:
        json.dump(s, f, indent=1)
    print(report(s))
    return 0


if __name__ == "__main__":
    sys.exit(main())
