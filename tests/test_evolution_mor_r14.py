"""Round-14 probe cycle 3, pinned: schema evolution interleaved with
OUTSTANDING merge-on-read deletes, rollback-then-export, and special-char
literals through the `_can_skip` fast path. The one real bug this cycle
found (equality delete keyed on a later-DROPPED column crashing the spec
reader) is fixed and pinned in
test_iceberg_v2.py::test_equality_delete_on_dropped_column; these pin the
surfaces that came back clean.
"""
from pyspark.sql import functions as F

from apache_iceberg_demo_spark.sources.iceberg_v2 import (
    export_iceberg_v2,
    read_iceberg_v2,
)
from apache_iceberg_demo_spark.sources.warehouse import Warehouse

from tests.test_iceberg_v2 import _load_validator

SCHEMA = "k int, tag string, v double"
BASE = [(1, "x", 1.0), (2, "y", 2.0), (3, "x", 3.0), (4, "z", 4.0)]


def test_mor_delete_survives_rename_and_added_columns(spark, tmp_path):
    """(M/N) An equality MoR delete stays correct when the keyed column is
    RENAMED afterwards (fid binding; predicate string rebinding), also once
    the snapshot that recorded the delete has expired, and when columns are
    ADDED — including a later MoR delete keyed on the added column, where
    pre-add files null-fill and never match."""
    mod = _load_validator()
    wh = Warehouse(spark, str(tmp_path / "wh"))
    wh.create_or_replace("m", spark.createDataFrame(BASE, SCHEMA))
    wh.delete_where_mor("m", "tag = 'x'")
    wh.rename_column("m", "tag", "label")
    assert sorted(r.k for r in wh.read("m").collect()) == [2, 4]
    loc = export_iceberg_v2(wh, "m", str(tmp_path / "ice_m"))
    assert mod.validate(loc, deep=True) == []
    assert sorted(r.k for r in read_iceberg_v2(spark, loc).collect()) == \
        [2, 4]
    # the delete entry binds its own names: expiring the recording
    # snapshot leaves "tag" in no retained schema
    wh.expire_snapshots("m", keep_last=1)
    assert sorted(r.k for r in wh.read("m").collect()) == [2, 4]
    loc = export_iceberg_v2(wh, "m", str(tmp_path / "ice_m_expired"))
    assert mod.validate(loc, deep=True) == []
    assert sorted(r.k for r in read_iceberg_v2(spark, loc).collect()) == \
        [2, 4]

    wh.create_or_replace("n", spark.createDataFrame(BASE, SCHEMA))
    wh.delete_where_mor("n", "tag = 'x'")
    wh.add_column("n", "extra", "int")
    assert sorted(r.k for r in wh.read("n").collect()) == [2, 4]
    wh.append("n", spark.createDataFrame(
        [(5, "w", 5.0, 10), (6, "w", 6.0, 20)],
        "k int, tag string, v double, extra int"))
    wh.delete_where_mor("n", "extra = 10")
    assert sorted(r.k for r in wh.read("n").collect()) == [2, 4, 6]
    loc2 = export_iceberg_v2(wh, "n", str(tmp_path / "ice_n"))
    assert mod.validate(loc2, deep=True) == []
    assert sorted(r.k for r in read_iceberg_v2(spark, loc2).collect()) == \
        [2, 4, 6]


def test_rollback_then_export(spark, tmp_path):
    """(P) Export after rollback_to (current != newest allocated snapshot)
    and after a divergent post-rollback append: ancestry-ordered snapshot
    list stays valid and the spec read serves the rolled-back state."""
    mod = _load_validator()
    wh = Warehouse(spark, str(tmp_path / "wh"))
    wh.create_or_replace("p", spark.createDataFrame(BASE[:2], SCHEMA))
    wh.append("p", spark.createDataFrame(BASE[2:3], SCHEMA))
    s2 = wh._load_meta("p")["current_snapshot_id"]
    wh.append("p", spark.createDataFrame(BASE[3:4], SCHEMA))
    wh.rollback_to("p", s2)
    assert sorted(r.k for r in wh.read("p").collect()) == [1, 2, 3]
    loc = export_iceberg_v2(wh, "p", str(tmp_path / "ice"))
    assert mod.validate(loc, deep=True) == []
    assert sorted(r.k for r in read_iceberg_v2(spark, loc).collect()) == \
        [1, 2, 3]
    wh.append("p", spark.createDataFrame([(9, "q", 9.0)], SCHEMA))
    loc2 = export_iceberg_v2(wh, "p", str(tmp_path / "ice2"))
    assert mod.validate(loc2, deep=True) == []
    assert sorted(r.k for r in read_iceberg_v2(spark, loc2).collect()) == \
        [1, 2, 3, 9]


def test_read_where_special_literals(spark, tmp_path):
    """(Q) Literals containing ' AND ', quotes (doubled ''), and spaces
    flow through the read's _can_skip fast path without fabricating or
    dropping conjuncts — partition values equal to such strings read
    exactly."""
    wh = Warehouse(spark, str(tmp_path / "wh"))
    ex = spark.createDataFrame(
        [(1, "a b", 1.0), (2, "a AND k = 5", 2.0), (3, "x' OR 'y", 3.0),
         (4, None, 4.0)],
        SCHEMA,
    )
    wh.create_or_replace("q", ex, partition_by="tag")
    assert [r.k for r in wh.read("q", where="tag = 'a b'").collect()] == [1]
    assert [
        r.k for r in wh.read("q", where="tag = 'a AND k = 5'").collect()
    ] == [2]
    assert [
        r.k for r in wh.read("q", where="tag = 'x'' OR ''y'").collect()
    ] == [3]
    assert [
        r.k for r in wh.read("q", where="tag = 'a b' AND v > 0").collect()
    ] == [1]
