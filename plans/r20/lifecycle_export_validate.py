"""Replay perfbench's ``lifecycle`` commit sequence (12 commits: appends,
merge-on-read deletes at i % 8 == 3, merges at i % 8 == 6; the same frames
and seeded choices) on a fresh warehouse, export it as Iceberg v2, run the
metadata validator in deep mode on the export, and compare the spec read,
the native read and a row model.

usage: python3 plans/r20/lifecycle_export_validate.py SEED WORK_DIR
"""
import os
import random
import shutil
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)
sys.path.insert(0, os.path.join(ROOT, "tools"))

from apache_iceberg_demo_spark.session import get_spark  # noqa: E402
from apache_iceberg_demo_spark.sources.iceberg_v2 import (  # noqa: E402
    export_iceberg_v2,
    read_iceberg_v2,
)
from apache_iceberg_demo_spark.sources.warehouse import Warehouse  # noqa: E402
from validate_iceberg_metadata import validate  # noqa: E402

seed, work = int(sys.argv[1]), sys.argv[2]
shutil.rmtree(work, ignore_errors=True)
spark = get_spark()
wh = Warehouse(spark, os.path.join(work, "wh"))
rng = random.Random(seed * 1000 + 0)


def frame(lo, hi, bump=0):
    return spark.range(lo, hi).selectExpr(
        "id", "CAST(id % 4 AS INT) AS p", f"(id * 7919 + {seed * 31 + bump}) % 100003 AS v"
    )


def v(i, bump=0):
    return (i * 7919 + seed * 31 + bump) % 100_003


model, next_id = {}, 0
for i in range(12):
    if i == 0:
        next_id = 1000
        wh.create_or_replace("events_t", frame(0, next_id), partition_by="p")
        model.update({k: v(k) for k in range(next_id)})
    elif i % 8 == 3:
        r = rng.randrange(13)
        wh.delete_where_mor("events_t", f"v % 13 = {r}")
        model = {k: x for k, x in model.items() if x % 13 != r}
    elif i % 8 == 6:
        lo = rng.randrange(0, max(1, next_id - 200))
        bump = rng.randrange(1, 1000)
        hi_new = next_id + 200
        wh.merge_into("events_t", frame(lo, lo + 200, bump).unionByName(
            frame(next_id, hi_new, bump)), on=["id"])
        model.update({k: v(k, bump) for k in list(range(lo, lo + 200)) + list(range(next_id, hi_new))})
        next_id = hi_new
    else:
        lo, next_id = next_id, next_id + 1000
        wh.append("events_t", frame(lo, next_id))
        model.update({k: v(k) for k in range(lo, next_id)})
    if (i + 1) % 2 == 0:
        rng.randrange(4)  # the workload's read_where partition pick

loc = export_iceberg_v2(wh, "events_t", os.path.join(work, "ice"))
violations = validate(loc, deep=True)
native = {r.id: r.v for r in wh.read("events_t").collect()}
spec = {r.id: r.v for r in read_iceberg_v2(spark, loc).collect()}
print(f"seed {seed}: rows model/native/spec {len(model)}/{len(native)}/{len(spec)}; "
      f"native == model {native == model}; spec == model {spec == model}; "
      f"deep-validator violations {len(violations)} {violations[:3]}")
spark.stop()
sys.exit(0 if native == model == spec and not violations else 1)
