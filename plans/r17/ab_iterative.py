"""Interleaved A/B of the iterative operators between two checkouts.

Usage: python plans/r17/ab_iterative.py <old_repo> <new_repo> <sf_dir> <pairs> <out.jsonl>
       python plans/r17/ab_iterative.py --one <repo> <sf_dir>   (one side, one run)

Each run is a fresh process with a plain, untuned local[4] session at Spark's
default 200 shuffle partitions. It times every operator the way the query
contract consumes it: build the frame, count(), then collect(). Pair i runs
the old side first when i is even and the new side first when i is odd. Every run
appends one JSON line {"side", "pair", "order", "s": {query: seconds}}; the
summary prints each side's per-query median and the old side's quartile
spread.
"""

from __future__ import annotations

import json
import statistics
import subprocess
import sys
import time

QUERIES = [
    "b3_pagerank_copurchase",
    "b3_bfs_reachability",
    "b3_bellman_ford_bounded",
    "pipeline_rag_retrieval",
    "c2_dedup_clusters",
]


def one_run(repo: str, sf_dir: str) -> None:
    sys.path.insert(0, repo)
    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master("local[4]")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    from apache_iceberg_demo_spark import registry

    registry.load_all()
    out = {}
    for q in QUERIES:
        t0 = time.perf_counter()
        df = registry.QUERIES[q](spark, sf_dir)
        df.count()
        df.collect()
        out[q] = round(time.perf_counter() - t0, 3)
    spark.stop()
    print("RESULT " + json.dumps(out))


def run_side(repo: str, sf_dir: str) -> dict:
    proc = subprocess.run(
        [sys.executable, __file__, "--one", repo, sf_dir],
        capture_output=True,
        text=True,
        check=True,
    )
    line = next(x for x in proc.stdout.splitlines() if x.startswith("RESULT "))
    return json.loads(line[len("RESULT "):])


def quartile_spread(xs: list[float]) -> float:
    q = statistics.quantiles(xs, n=4, method="inclusive")
    return q[2] - q[0]


def main(old: str, new: str, sf_dir: str, pairs: int, out_path: str) -> None:
    """Append ``pairs`` more pairs to ``out_path`` (numbering continues after
    the pairs already there), then summarize every run in the file."""
    try:
        with open(out_path) as fh:
            first = 1 + max(json.loads(x)["pair"] for x in fh if x.strip())
    except (FileNotFoundError, ValueError):
        first = 0
    with open(out_path, "a") as fh:
        for i in range(first, first + pairs):
            order = ["old", "new"] if i % 2 == 0 else ["new", "old"]
            for pos, side in enumerate(order):
                s = run_side(old if side == "old" else new, sf_dir)
                rec = {"side": side, "pair": i, "order": pos, "s": s}
                fh.write(json.dumps(rec) + "\n")
                fh.flush()
                print(json.dumps(rec), flush=True)
    runs: dict[str, list[dict]] = {"old": [], "new": []}
    with open(out_path) as fh:
        for x in fh:
            if x.strip():
                rec = json.loads(x)
                runs[rec["side"]].append(rec["s"])
    print(f"{len(runs['old'])} old / {len(runs['new'])} new runs")
    print("query\told_median\tnew_median\told_iqr\tnew_minus_old")
    for q in QUERIES:
        o = [r[q] for r in runs["old"]]
        n = [r[q] for r in runs["new"]]
        mo, mn = statistics.median(o), statistics.median(n)
        print(f"{q}\t{mo:.3f}\t{mn:.3f}\t{quartile_spread(o):.3f}\t{mn - mo:+.3f}")


if __name__ == "__main__":
    if sys.argv[1] == "--one":
        one_run(sys.argv[2], sys.argv[3])
    else:
        main(sys.argv[1], sys.argv[2], sys.argv[3], int(sys.argv[4]), sys.argv[5])
