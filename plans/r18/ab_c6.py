# Times native-table queries in a plain local[4] session.
# Usage: python ab_c6.py <repo checkout> <sf dir> <query,query,...>
import json, sys, time
repo, sf = sys.argv[1], sys.argv[2]
qs = sys.argv[3].split(",")
sys.path.insert(0, repo)
from pyspark.sql import SparkSession
spark = (SparkSession.builder.master("local[4]").config("spark.sql.session.timeZone", "UTC")
         .config("spark.ui.enabled", "false").getOrCreate())
spark.sparkContext.setLogLevel("ERROR")
from apache_iceberg_demo_spark import registry
registry.load_all()
out = {}
for q in qs:
    t0 = time.perf_counter()
    df = registry.QUERIES[q](spark, sf)
    df.count(); df.collect()
    out[q] = round(time.perf_counter() - t0, 2)
print("RESULT", json.dumps(out))
