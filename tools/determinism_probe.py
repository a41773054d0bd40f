"""Partition-layout determinism probe for the driver's float-hash gate.

The one red driver row in seven rounds (c3_covariance_matrix, r07) was a
float64 cross-partition partial merge whose reduce order flipped the 6th
decimal — a flake class invisible to single-layout rehearsals because both
the rehearsal and the driver use the same plain session. This tool forces
the failure mode: it runs each query under TWO deliberately different
physical layouts (shuffle partition count, input split size, parallelism),
which reshapes every partial-aggregate merge tree, then diffs the
canonicalized (round-6, column-sorted, row-sorted) outputs. A query whose
result changes with layout WILL eventually draw an unlucky merge order on
the driver; fix it (DECIMAL or fixed-point partials) before the driver
finds it.

Run: timeout 3600 python tools/determinism_probe.py [sf_dir] [name1 ...]
Default query set: the oracle-paired queries in the middle tier of
registry.driver_order (the ones whose first driver hash check is still
ahead of them).
Prints one line per query; exit 1 on any layout-sensitive result.
"""

from __future__ import annotations

import os
import sys
import time
import traceback

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import SparkSession

# Two layouts chosen to maximize merge-tree divergence: a wide one (many
# small input splits + many shuffle partitions) and a narrow one (few of
# each). Both are plausible cluster shapes; results must be identical.
LAYOUTS = [
    {
        "spark.sql.shuffle.partitions": "32",
        "spark.sql.files.maxPartitionBytes": "1048576",
        "spark.default.parallelism": "32",
    },
    {
        "spark.sql.shuffle.partitions": "5",
        "spark.sql.files.maxPartitionBytes": "134217728",
        "spark.default.parallelism": "5",
    },
]


def _session(layout: dict) -> SparkSession:
    b = (
        SparkSession.builder.master("local[8]")
        .config("spark.driver.memory", "2g")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
    )
    for k, v in layout.items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"

    from apache_iceberg_demo_spark import registry
    from tests.oracle_utils import canonical

    registry.load_all()
    if len(sys.argv) > 2:
        names = sys.argv[2:]
        unknown = [n for n in names if n not in registry.QUERIES]
        if unknown:
            print(f"unknown query names: {unknown}")
            return 1
    else:
        _, unchecked = registry.driver_order(registry.QUERIES, registry.ORACLES)
        names = [n for n in unchecked if n in registry.ORACLES]

    results: dict[str, list] = {n: [] for n in names}
    errors: dict[str, str] = {}
    for li, layout in enumerate(LAYOUTS):
        spark = _session(layout)
        for conf_k, conf_v in layout.items():
            # getOrCreate reuses an existing session; force the layout confs
            # onto it so pass 2 actually differs from pass 1
            spark.conf.set(conf_k, conf_v)
        for name in names:
            t0 = time.time()
            try:
                df = registry.QUERIES[name](spark, sf_dir)
                rows = [tuple(r) for r in df.collect()]
                results[name].append(canonical(rows, list(df.columns)))
                status = "ok"
            except Exception:
                errors[name] = traceback.format_exc(limit=3)
                results[name].append(None)
                status = "ERR"
            print(
                f"[layout {li}] {name}: {status} ({time.time() - t0:.1f}s)",
                flush=True,
            )
        spark.stop()

    flaky = [
        n
        for n, r in results.items()
        if len(r) == len(LAYOUTS) and None not in r and any(x != r[0] for x in r)
    ]
    erred = sorted(errors)
    for n in flaky:
        a, b = results[n][0], results[n][1]
        diffs = [(x, y) for x, y in zip(a, b) if x != y][:3]
        print(f"\nLAYOUT-SENSITIVE {n}: first diffs {diffs}")
    for n in erred:
        print(f"\nERROR {n}:\n{errors[n]}")
    print(
        f"\n{len(names) - len(flaky) - len(erred)}/{len(names)} layout-stable;"
        f" flaky: {flaky}; errors: {erred}"
    )
    return 1 if (flaky or erred) else 0


if __name__ == "__main__":
    sys.exit(main())
