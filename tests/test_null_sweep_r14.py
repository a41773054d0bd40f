"""Round-14 null/special-char probe sweep, pinned (VERDICT r13 item 2).

Three consecutive r13 probe cycles each found real silent corruption in
partition routing, so the r13 verdict asked for the same discipline on the
surfaces those cycles didn't reach: MoR deletes against NULL keys, the
incremental scan + change feed over commits with null/URI-illegal
partition values, bucket(N) of a NULL source through
export -> reader prune -> validator, and ``_can_skip``'s IS NULL inverse
(the all-rows-null comparison skip must NOT fire for IS NULL predicates).

The r14 probe came back CLEAN on every surface (the r13 fixes — null
routing of row-level ops, since replaced by copy-on-write grouping on the
manifest's partition dicts, ``_manifest_for_dir`` real-None partition
values, ``_uri_path_quote`` — already covered them); these tests pin that
so a regression fails loudly instead of silently.
"""
import json
import os

import pytest
from pyspark.sql import functions as F

from apache_iceberg_demo_spark.sources.iceberg_v2 import (
    advance_change_feed,
    export_iceberg_v2,
    iceberg_v2_change_feed,
    read_iceberg_v2,
    read_iceberg_v2_changes,
)
from apache_iceberg_demo_spark.sources.warehouse import Warehouse

from tests.test_iceberg_v2 import _load_validator

SCHEMA = "k int, tag string, v double"
ROWS = [
    (1, "a b", 10.0), (2, "a b", 20.0), (3, "p%q", 30.0), (4, None, 40.0),
    (5, None, 50.0), (6, "4-NOT SPECIFIED", 60.0), (7, "café", 70.0),
    (8, "x=y", 80.0), (9, "plain", 90.0), (10, "plain", 100.0),
]


def test_mor_is_null_delete_on_null_partitions(spark, tmp_path):
    """IS NULL MoR predicates against NULL identity-partition keys: the
    native read anti-filters them, a post-delete null append survives
    (file-path scoping = sequence rule), the export takes the POSITION
    delete path (IS NULL is not equality-shaped), and the independent
    spec reader + validator agree."""
    mod = _load_validator()
    wh = Warehouse(spark, str(tmp_path / "wh"))
    ex = spark.createDataFrame(ROWS, SCHEMA)
    wh.create_or_replace("a", ex, partition_by="tag")
    wh.delete_where_mor("a", "tag IS NULL")
    assert sorted(r.k for r in wh.read("a").collect()) == \
        [1, 2, 3, 6, 7, 8, 9, 10]
    wh.append("a", spark.createDataFrame([(11, None, 110.0)], SCHEMA))
    survivors = [1, 2, 3, 6, 7, 8, 9, 10, 11]
    assert sorted(r.k for r in wh.read("a").collect()) == survivors
    loc = export_iceberg_v2(wh, "a", str(tmp_path / "ice"))
    assert mod.validate(loc, deep=True) == []
    assert sorted(r.k for r in read_iceberg_v2(spark, loc).collect()) == \
        survivors
    assert [
        r.k
        for r in read_iceberg_v2(spark, loc, where="tag IS NULL").collect()
    ] == [11]
    wh.apply_deletes("a")
    assert sorted(r.k for r in wh.read("a").collect()) == survivors

    # equality-shaped MoR delete keyed on a special-char value, with null
    # partitions present in the same table
    wh.create_or_replace("a2", ex, partition_by="tag")
    wh.delete_where_mor("a2", "tag = '4-NOT SPECIFIED'")
    keep = [1, 2, 3, 4, 5, 7, 8, 9, 10]
    assert sorted(r.k for r in wh.read("a2").collect()) == keep
    loc2 = export_iceberg_v2(wh, "a2", str(tmp_path / "ice2"))
    assert mod.validate(loc2, deep=True) == []
    assert sorted(r.k for r in read_iceberg_v2(spark, loc2).collect()) == keep


def test_change_scan_over_null_and_special_partitions(spark, tmp_path):
    """IncrementalAppendScan + change feed over commits whose partition
    values include NULL, spaces, %, =, and non-ASCII: every row arrives
    exactly once with its true (unescaped, real-null) value."""
    wh = Warehouse(spark, str(tmp_path / "wh"))
    batches = [
        [(1, "a b", 1.0), (2, None, 2.0)],
        [(3, "p%q", 3.0), (4, "4-NOT SPECIFIED", 4.0)],
        [(5, None, 5.0), (6, "café", 6.0)],
    ]
    wh.create_or_replace(
        "b", spark.createDataFrame(batches[0], SCHEMA), partition_by="tag"
    )
    for bt in batches[1:]:
        wh.append("b", spark.createDataFrame(bt, SCHEMA))
    loc = export_iceberg_v2(wh, "b", str(tmp_path / "ice"))
    mdir = os.path.join(loc, "metadata")
    hint = open(os.path.join(mdir, "version-hint.text")).read().strip()
    meta = json.load(open(os.path.join(mdir, f"v{hint}.metadata.json")))
    sids = [e["snapshot-id"] for e in meta["snapshot-log"]]
    assert len(sids) == 3
    inc = read_iceberg_v2_changes(spark, loc, sids[0])
    assert sorted(r.k for r in inc.collect()) == [3, 4, 5, 6]
    assert sorted([r.tag for r in inc.collect()], key=str) == \
        sorted(["p%q", "4-NOT SPECIFIED", None, "café"], key=str)
    assert sorted(
        r.k for r in read_iceberg_v2_changes(spark, loc, sids[0], sids[1])
        .collect()
    ) == [3, 4]
    cur = str(tmp_path / "cursor.json")
    seen = []
    for _ in range(4):
        df, head = iceberg_v2_change_feed(spark, loc, cur)
        seen.extend(r.k for r in df.collect())
        advance_change_feed(cur, head)
    assert sorted(seen) == [1, 2, 3, 4, 5, 6]


def test_bucket_of_null_source_end_to_end(spark, tmp_path):
    """bucket(N) of a NULL source column: routing puts null rows in the
    null partition (not a crash, not a wrong bucket), export records a
    real Avro-null partition value the validator accepts, the spec
    reader's bucket-equality prune never drops null rows for IS NULL
    reads, and row-level ops (CoW and MoR, equality and IS NULL shapes)
    route the null-bucket rows."""
    mod = _load_validator()
    wh = Warehouse(spark, str(tmp_path / "wh"))
    cb = spark.createDataFrame(
        [(1, 100, "x"), (2, None, "y"), (3, 205, "z"), (4, None, "w"),
         (5, 100, "v")],
        "k int, c int, s string",
    )
    wh.create_or_replace("c", cb, partition_by="bucket(4, c)")
    assert wh.read("c").count() == 5
    assert sorted(r.k for r in wh.read("c", where="c = 100").collect()) == \
        [1, 5]
    assert sorted(r.k for r in wh.read("c", where="c IS NULL").collect()) == \
        [2, 4]
    loc = export_iceberg_v2(wh, "c", str(tmp_path / "ice"))
    assert mod.validate(loc, deep=True) == []
    assert read_iceberg_v2(spark, loc).count() == 5
    assert sorted(
        r.k for r in read_iceberg_v2(spark, loc, where="c = 100").collect()
    ) == [1, 5]
    assert sorted(
        r.k for r in read_iceberg_v2(spark, loc, where="c IS NULL").collect()
    ) == [2, 4]
    assert sorted(
        r.k
        for r in read_iceberg_v2(spark, loc, where="c IS NOT NULL").collect()
    ) == [1, 3, 5]

    # CoW delete of the null-bucket rows
    wh.delete_where("c", "c IS NULL")
    assert sorted(r.k for r in wh.read("c").collect()) == [1, 3, 5]

    # MoR IS NULL on a bucket table -> POSITION delete over the
    # null-bucket dir (__HIVE_DEFAULT_PARTITION__ paths in the delete file)
    wh.create_or_replace("c3", cb, partition_by="bucket(4, c)")
    wh.delete_where_mor("c3", "c IS NULL")
    assert sorted(r.k for r in wh.read("c3").collect()) == [1, 3, 5]
    loc3 = export_iceberg_v2(wh, "c3", str(tmp_path / "ice3"))
    assert mod.validate(loc3, deep=True) == []
    assert sorted(r.k for r in read_iceberg_v2(spark, loc3).collect()) == \
        [1, 3, 5]

    # MoR equality on a bucket table with nulls present
    wh.create_or_replace("c2", cb, partition_by="bucket(4, c)")
    wh.delete_where_mor("c2", "c = 100")
    assert sorted(r.k for r in wh.read("c2").collect()) == [2, 3, 4]
    loc2 = export_iceberg_v2(wh, "c2", str(tmp_path / "ice2"))
    assert mod.validate(loc2, deep=True) == []
    assert sorted(r.k for r in read_iceberg_v2(spark, loc2).collect()) == \
        [2, 3, 4]


def test_can_skip_is_null_inverse(spark, tmp_path):
    """The r13 all-rows-null comparison skip (`f1b`): a null partition
    value means every row is NULL, so comparison predicates skip the
    file. INVERSE guarantee pinned here: IS NULL must NEVER skip the
    null-partition file. r14 also made the converse EXACT for partition
    values: IS NULL skips non-null partitions and IS NOT NULL skips the
    null partition (a partition value is a constant per file, so null
    evidence is total, unlike min/max stats) — reads stay exact."""
    wh = Warehouse(spark, str(tmp_path / "wh"))
    ex = spark.createDataFrame(ROWS, SCHEMA)
    wh.create_or_replace("d", ex, partition_by="tag")
    meta = wh._load_meta("d")
    snap = wh._snapshot(meta, meta["current_snapshot_id"])
    nullf = [f for f in snap["manifest"] if f["partition"].get("tag") is None]
    nonnf = [
        f for f in snap["manifest"] if f["partition"].get("tag") is not None
    ]
    assert nullf and nonnf
    for f in nullf:
        assert not Warehouse._can_skip(f, "tag IS NULL")
        assert Warehouse._can_skip(f, "tag = 'plain'")  # all-rows-null skip
        assert Warehouse._can_skip(f, "tag > 'a'")
        assert Warehouse._can_skip(f, "tag IS NOT NULL")  # exact converse
    for f in nonnf:
        assert Warehouse._can_skip(f, "tag IS NULL")
        assert not Warehouse._can_skip(f, "tag IS NOT NULL")
    # a non-partition column never null-skips (min/max carry no evidence)
    for f in nullf + nonnf:
        assert not Warehouse._can_skip(f, "v IS NULL")
        assert not Warehouse._can_skip(f, "v IS NOT NULL")
    # conjunction: one exact null conjunct suffices
    for f in nonnf:
        assert Warehouse._can_skip(f, "tag IS NULL AND k = 4")
    assert sorted(
        r.k for r in wh.read("d", where="tag IS NULL").collect()
    ) == [4, 5]
    assert sorted(
        r.k for r in wh.read("d", where="tag IS NOT NULL").collect()
    ) == [1, 2, 3, 6, 7, 8, 9, 10]
    # a top-level OR disables null pruning on both readers: the spec
    # reader's null counts must not drop the non-null partitions for the
    # `tag IS NULL` that only one side of the OR names
    loc = export_iceberg_v2(wh, "d", str(tmp_path / "ice"))
    pred = "tag IS NULL AND k = 4 OR v = 10.0"
    assert sorted(r.k for r in wh.read("d", where=pred).collect()) == [1, 4]
    assert sorted(
        r.k for r in read_iceberg_v2(spark, loc, where=pred).collect()
    ) == [1, 4]
    assert sorted(
        r.k for r in read_iceberg_v2(spark, loc, where="tag IS NULL").collect()
    ) == [4, 5]
