"""Count 200-wide exchanges in every plan an operator caches, at the
moment it is cached (persist() compiles the cached physical plan then).

Usage: python plans/r17/cached_plan_width_probe.py <repo> <sf_dir> <query>...
Runs each query in a plain local[4] session at the default 200 shuffle
partitions and prints, per persist()/cache() call, the number of
``hashpartitioning(.., 200)`` references in the compiled cached plan.
Works on any checkout: it wraps DataFrame.persist instead of relying on a
cache registry.
"""

from __future__ import annotations

import re
import sys

repo, sf_dir, queries = sys.argv[1], sys.argv[2], sys.argv[3:]
sys.path.insert(0, repo)

from pyspark.sql import SparkSession  # noqa: E402

WIDE = re.compile(r"hashpartitioning\([^\n]*?, 200\)")
spark = (
    SparkSession.builder.master("local[4]")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()
)
spark.sparkContext.setLogLevel("ERROR")
cm = spark._jsparkSession.sharedState().cacheManager()
log: list[tuple[str, int]] = []
DataFrame = type(spark.range(1))  # the classic (non-Connect) implementation
_persist = DataFrame.persist


def persist(self, *a, **k):
    out = _persist(self, *a, **k)
    cached = cm.lookupCachedData(out._jdf)
    plan = cached.get().cachedRepresentation().cacheBuilder().cachedPlan().toString()
    caller = sys._getframe(1)
    while caller.f_code.co_filename.endswith(("caching.py", __file__)):
        caller = caller.f_back
    where = f"{caller.f_code.co_filename.rsplit('/', 1)[-1]}:{caller.f_lineno}"
    log.append((where, len(WIDE.findall(plan))))
    return out


DataFrame.persist = persist
DataFrame.cache = lambda self: self.persist()

from apache_iceberg_demo_spark import registry  # noqa: E402

registry.load_all()
for q in queries:
    log.clear()
    registry.QUERIES[q](spark, sf_dir).collect()
    for where, n in log:
        print(f"{q}\t{where}\twide_200={n}")
spark.stop()
