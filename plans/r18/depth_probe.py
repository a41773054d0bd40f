"""Native read latency against commit depth, parent reader vs this reader.

Usage: python plans/r18/depth_probe.py <old_repo> <new_repo> <pairs> <out.jsonl>

Builds one table with the NEW checkout's warehouse: ``create_or_replace``
then 150 appends of 1000 rows into a 4-value identity-partitioned table
(``p = id % 4``). The metadata format is the same in both checkouts, so
both readers read the same files: depth d is ``read(snapshot_id=d + 1)``,
the snapshot after d appends. For d in (10, 50, 150) it times
``read().count()`` and ``read(where="p = 1").count()`` (plan build
included) with each checkout's ``Warehouse``, loaded side by side in one
session. Pair i runs the old reader first when i is even and the new one
first when i is odd. One warm-up pair is run and discarded. Every timing
appends a JSON line {"side", "pair", "depth", "op", "s", "rows"}; the
summary prints per-side medians and the old side's quartile spread.

Session: ``get_spark`` at ``local[SPARK_GRAFT_CPUS]``.
"""

from __future__ import annotations

import importlib.util
import json
import os
import statistics
import sys
import tempfile
import time

DEPTHS = (10, 50, 150)
ROWS = 1000


def load_warehouse(repo: str, tag: str):
    """The checkout's ``Warehouse`` class, loaded under its own module name.
    Its registered queries are not needed, and registering them twice
    would raise, so ``register`` is a no-op while the module loads."""
    from apache_iceberg_demo_spark import registry

    path = os.path.join(repo, "apache_iceberg_demo_spark", "sources", "warehouse.py")
    spec = importlib.util.spec_from_file_location(f"warehouse_{tag}", path)
    mod = importlib.util.module_from_spec(spec)
    register = registry.register
    registry.register = lambda *a, **k: (lambda fn: fn)
    try:
        spec.loader.exec_module(mod)
    finally:
        registry.register = register
    return mod.Warehouse


def main(old_repo: str, new_repo: str, pairs: int, out_path: str) -> None:
    sys.path.insert(0, new_repo)
    from apache_iceberg_demo_spark.session import get_spark

    spark = get_spark("depth_probe")
    spark.sparkContext.setLogLevel("ERROR")
    root = tempfile.mkdtemp(prefix="depth_probe_")
    sides = {"old": load_warehouse(old_repo, "old"), "new": load_warehouse(new_repo, "new")}
    wh = sides["new"](spark, root)

    def batch(i: int):
        return spark.range(i * ROWS, (i + 1) * ROWS).selectExpr(
            "id", "CAST(id % 4 AS INT) AS p", "id * 3 AS v"
        )

    t0 = time.perf_counter()
    wh.create_or_replace("t", batch(0), partition_by="p")
    for i in range(1, max(DEPTHS) + 1):
        wh.append("t", batch(i))
    print(f"built {max(DEPTHS)} appends in {time.perf_counter() - t0:.1f} s", flush=True)

    readers = {k: cls(spark, root) for k, cls in sides.items()}
    ops = {"count": None, "where_p1": "p = 1"}
    with open(out_path, "w") as out:
        for pair in range(-1, pairs):  # pair -1 is the discarded warm-up
            order = ("old", "new") if pair % 2 == 0 else ("new", "old")
            for depth in DEPTHS:
                for op, where in ops.items():
                    for side in order:
                        s0 = time.perf_counter()
                        n = readers[side].read("t", snapshot_id=depth + 1, where=where).count()
                        s = round(time.perf_counter() - s0, 3)
                        rec = {"side": side, "pair": pair, "depth": depth, "op": op, "s": s, "rows": n}
                        if pair >= 0:
                            out.write(json.dumps(rec) + "\n")
                            out.flush()
                        print(json.dumps(rec), flush=True)
    spark.stop()
    summarize(out_path)


def summarize(path: str) -> None:
    recs = [json.loads(line) for line in open(path)]
    for depth in DEPTHS:
        for op in ("count", "where_p1"):
            got = {
                side: sorted(r["s"] for r in recs if r["side"] == side and r["depth"] == depth and r["op"] == op)
                for side in ("old", "new")
            }
            rows = {r["rows"] for r in recs if r["depth"] == depth and r["op"] == op}
            q = statistics.quantiles(got["old"], n=4) if len(got["old"]) > 1 else [0, 0, 0]
            print(
                f"depth {depth:3d} {op:8s} old median {statistics.median(got['old']):7.3f} s "
                f"(IQR {q[2] - q[0]:.3f})  new median {statistics.median(got['new']):7.3f} s  "
                f"rows {sorted(rows)}"
            )


if __name__ == "__main__":
    if sys.argv[1] == "--summary":
        summarize(sys.argv[2])
    else:
        main(sys.argv[1], sys.argv[2], int(sys.argv[3]), sys.argv[4])
