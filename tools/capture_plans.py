"""Capture .explain("formatted") for bench headline queries → plans/<round>/.

Usage: python tools/capture_plans.py <suffix> [query ...]
Writes plans/$SPARK_GRAFT_PLANS_ROUND/<query>_<suffix>.txt (default r16) for
each headline query (or the explicit list). No TIMED execution happens here —
but operators that materialize internally (graph-iteration counts,
caching.keep_result persists, c6 warehouse fixture builds) DO run real jobs
during plan construction, so passing arbitrary query names can perturb a
concurrent benchmark; the bench numbers come from bench.py.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def main() -> None:
    suffix = sys.argv[1] if len(sys.argv) > 1 else "before"
    from bench import EXTRA, HEADLINE

    names = sys.argv[2:] or (HEADLINE + EXTRA)

    from apache_iceberg_demo_spark import registry
    from apache_iceberg_demo_spark.session import (
        default_parallelism,
        get_spark,
        sized_shuffle_partitions,
    )

    registry.load_all()
    total = 0
    for dirpath, _dirs, files in os.walk(SF_DIR):
        for fn in files:
            total += os.path.getsize(os.path.join(dirpath, fn))
    parts = sized_shuffle_partitions(total, default_parallelism())
    spark = get_spark("capture_plans", shuffle_partitions=parts)

    out_dir = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "plans",
        os.environ.get("SPARK_GRAFT_PLANS_ROUND", "r16"),
    )
    os.makedirs(out_dir, exist_ok=True)
    for n in names:
        if n not in registry.QUERIES:
            print(f"skip {n}: not registered")
            continue
        df = registry.QUERIES[n](spark, SF_DIR)
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        path = os.path.join(out_dir, f"{n}_{suffix}.txt")
        with open(path, "w") as f:
            f.write(plan)
        print(f"wrote {path} ({len(plan)} bytes)")
    spark.stop()


if __name__ == "__main__":
    main()
