"""Differential read fuzzer (round-14 tool, promoted after finding the
empty-string partition routing bugs): for random tables (identity / bucket /
truncate / days / multi-field layouts, with nulls + special chars) and
random predicates, `read(where=P)` must equal `read().filter(P)` — and
the same through export -> read_iceberg_v2. Catches any unsound prune
(file-skip, manifest-summary, transform, bounds) end to end. About half the
tables take a merge-on-read delete and then an append, so the delete scopes
only some of their files (the native read's file-key filter; position or
equality deletes in the export); those draws come from a second stream, so
a seed's tables and predicates are the ones it drew before. A third stream
evolves a non-partition column on about half the tables before their
predicates: a rename (predicates follow the new name), a drop and re-add
(then an append), a swap of two numeric columns by renames, or a drop of
one numeric column with another renamed onto its name. The last three
bind a name to two field ids, which the export refuses by design; their
spec-reader side is skipped and logged as ``[refused]``.

Usage: python tools/read_equivalence_fuzzer.py [SEED] [N_TABLES] [N_PREDS]
Round-14 sweeps: seeds 14/99/7/23/41, ~2500 predicate evaluations — the
one failure (seed 7: `tag = ''` on a truncate-string table) became the
empty-string fix set in tests/test_empty_string_partitions_r14.py.
"""
import os
import random
import re
import shutil
import sys

from pyspark.sql import SparkSession, functions as F

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SEED = int(sys.argv[1]) if len(sys.argv) > 1 else 14
N_TABLES = int(sys.argv[2]) if len(sys.argv) > 2 else 12
N_PREDS = int(sys.argv[3]) if len(sys.argv) > 3 else 24
rng = random.Random(SEED)
mor = random.Random(SEED + 1)
evo = random.Random(SEED + 2)

ROOT = os.environ.get("SPARK_GRAFT_FUZZ_DIR", "/tmp/fuzz_read")
shutil.rmtree(ROOT, ignore_errors=True)
os.makedirs(ROOT)

spark = (
    SparkSession.builder.master("local[8]")
    .config("spark.sql.shuffle.partitions", "8")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()
)
spark.sparkContext.setLogLevel("ERROR")

from apache_iceberg_demo_spark.sources.warehouse import Warehouse
from apache_iceberg_demo_spark.sources.iceberg_v2 import (
    export_iceberg_v2,
    read_iceberg_v2,
)

wh = Warehouse(spark, os.path.join(ROOT, "wh"))

TAGS = ["a b", "p%q", "café", "x=y", "plain", "4-NOT SPECIFIED", None,
        "O'Brien", ""]
BIG = 9007199254740992  # 2^53

def make_rows(n, r=rng):
    rows = []
    for i in range(n):
        k = r.choice(
            [r.randint(-50, 50), r.randint(BIG - 2, BIG + 2),
             -(2**63), 2**63 - 1, None]
        )
        tag = r.choice(TAGS)
        v = r.choice([round(r.uniform(-10, 10), 3), None])
        day = r.randint(-400, 400)
        rows.append((i, k, tag, v, day))
    return rows


def make_frame(rows):
    return spark.createDataFrame(
        rows, "i int, k long, tag string, v double, day int"
    ).withColumn(
        "ts",
        F.expr("timestamp'1970-01-01 12:00:00' + make_interval(0,0,0,day,0,0,0)"),
    ).drop("day")

SPECS = [
    None, "tag", "bucket(4, k)", "truncate(3, tag)", "days(ts)",
    "days(ts), bucket(2, k)", "tag, bucket(2, k)",
]

TYPES = {"i": "int", "k": "bigint", "tag": "string", "v": "double",
         "ts": "timestamp"}


def evolve(name, spec):
    """Draw one schema change of a non-partition column from ``evo``;
    returns (what was done, old name -> new name, export refuses)."""
    free = [c for c in TYPES if not re.search(rf"\b{c}\b", spec or "")]
    numeric = [c for c in free if c in ("i", "k", "v")]
    op = evo.choice(["rename", "readd", "swap", "drop_rename"])
    if op in ("swap", "drop_rename") and len(numeric) < 2:
        op = "readd"
    if op == "rename":
        c = evo.choice(free)
        wh.rename_column(name, c, c + "_r")
        return f"rename {c}", {c: c + "_r"}, False
    if op == "readd":
        c = evo.choice(free)
        wh.drop_column(name, c)
        wh.add_column(name, c, TYPES[c])
        wh.append(name, make_frame(make_rows(evo.randint(5, 20), evo)))
        return f"readd {c}", {}, True
    a, b = evo.sample(numeric, 2)
    if op == "swap":
        for old, new in [(a, "tmp"), (b, a), ("tmp", b)]:
            wh.rename_column(name, old, new)
    else:
        wh.drop_column(name, a)
        wh.rename_column(name, b, a)
        wh.add_column(name, b, TYPES[b])
    return f"{op} {a} {b}", {}, True


def renamed(pred, renames):
    """``pred`` with each renamed column's name replaced outside quotes."""
    parts = pred.split("'")
    for old, new in renames.items():
        parts[::2] = [re.sub(rf"\b{old}\b", new, x) for x in parts[::2]]
    return "'".join(parts)


def sql_quote(s):
    return "'" + s.replace("'", "''") + "'"

def make_pred():
    col = rng.choice(["k", "tag", "v", "ts", "i"])
    kind = rng.random()
    if kind < 0.15:
        return f"{col} IS NULL"
    if kind < 0.3:
        return f"{col} IS NOT NULL"
    op = rng.choice(["=", "<", "<=", ">", ">="])
    if col == "tag":
        lit = sql_quote(rng.choice([t for t in TAGS if t is not None]))
    elif col == "v":
        lit = str(round(rng.uniform(-10, 10), 3))
    elif col == "ts":
        d = rng.randint(-400, 400)
        import datetime
        lit = "'" + (datetime.date(1970, 1, 1)
                     + datetime.timedelta(days=d)).isoformat() + "'"
    elif col == "k":
        lit = str(rng.choice(
            [rng.randint(-50, 50), BIG, BIG + 1, BIG - 1, 2**63 - 1]
        ))
    else:
        lit = str(rng.randint(0, 40))
    p = f"{col} {op} {lit}"
    if rng.random() < 0.3:
        p2 = make_pred()
        p = f"{p} AND {p2}"
    return p

fails = 0
checked = 0
with_deletes = 0
evolved = 0
for t in range(N_TABLES):
    spec = rng.choice(SPECS)
    n = rng.randint(5, 40)
    df = make_frame(make_rows(n))
    name = f"t{t}"
    try:
        wh.create_or_replace(name, df, partition_by=spec)
    except Exception as e:
        print(f"[skip] table {t} spec={spec}: {type(e).__name__}: {e}")
        continue
    if mor.random() < 0.5:
        tag = mor.choice([x for x in TAGS if x is not None])
        wh.delete_where_mor(name, mor.choice(
            [f"i % 3 = {mor.randint(0, 2)}", f"tag = {sql_quote(tag)}"]
        ))
        wh.append(name, make_frame(make_rows(mor.randint(5, 20), mor)))
        with_deletes += 1
    renames, refused = {}, False
    if evo.random() < 0.5:
        what, renames, refused = evolve(name, spec)
        evolved += 1
        print(f"[evolve] t{t} spec={spec!r}: {what}")
    base_cols = [renames.get(c, c) for c in ["i", "k", "tag", "v", "ts"]]
    full = wh.read(name)
    loc = None
    try:
        loc = export_iceberg_v2(wh, name, os.path.join(ROOT, f"ice{t}"))
        sfull = read_iceberg_v2(spark, loc)
    except Exception as e:
        if refused and "re-added" in str(e):
            print(f"[refused] export t{t}: {e}")
        else:
            print(f"[FAIL] export/read table {t} spec={spec}: {e}")
            fails += 1
        loc = None
    for _ in range(N_PREDS):
        pred = renamed(make_pred(), renames)
        try:
            expect = sorted(
                map(tuple,
                    full.filter(pred).select(*base_cols).collect()),
                key=str,
            )
        except Exception:
            continue  # invalid predicate for the schema: skip
        got = sorted(
            map(tuple,
                wh.read(name, where=pred).select(*base_cols).collect()),
            key=str,
        )
        checked += 1
        if got != expect:
            fails += 1
            print(f"[FAIL] native t{t} spec={spec!r} pred={pred!r}: "
                  f"{len(got)} vs {len(expect)} rows")
        if loc is not None:
            sgot = sorted(
                map(tuple, read_iceberg_v2(spark, loc, where=pred)
                    .select(*base_cols).collect()),
                key=str,
            )
            checked += 1
            if sgot != expect:
                fails += 1
                print(f"[FAIL] spec-reader t{t} spec={spec!r} pred={pred!r}: "
                      f"{len(sgot)} vs {len(expect)} rows")
print(f"checked {checked} predicate evaluations across {N_TABLES} tables "
      f"({with_deletes} with a partially scoped delete, {evolved} evolved); "
      f"failures: {fails}")
spark.stop()
sys.exit(1 if fails else 0)
