"""Warehouse semantics: snapshots, time travel, compaction, expiry, skipping."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from apache_iceberg_demo_spark.io import load
from apache_iceberg_demo_spark.sources.warehouse import Warehouse

SF = "/root/testdata/sf0.001"


@pytest.fixture()
def wh(spark, tmp_path):
    return Warehouse(spark, str(tmp_path / "wh"))


def _lineitem(spark):
    return (
        load(spark, SF, "lineitem")
        .limit(1000)
        .withColumn("ship_day", F.date_format("l_shipdate", "yyyy-MM"))
    )


def test_replace_then_append_time_travel(spark, wh):
    li = _lineitem(spark)
    first = li.filter(F.col("l_linenumber") == 1)
    rest = li.filter(F.col("l_linenumber") != 1)

    s1 = wh.create_or_replace("t", first, partition_by="ship_day")
    assert s1["snapshot_id"] == 1
    n1 = wh.read("t").count()
    assert n1 == first.count()

    s2 = wh.append("t", rest)
    assert s2["parent_id"] == 1
    assert wh.read("t").count() == li.count()
    # time travel back to v1
    assert wh.read("t", snapshot_id=1).count() == n1
    # as-of timestamp travel
    assert wh.read("t", as_of_ms=s1["timestamp_ms"]).count() == n1


def test_schema_wins_on_replace(spark, wh):
    """The reference's replace-wins quirk (SURVEY.md §1.3) made explicit."""
    li = _lineitem(spark)
    wh.create_or_replace("t", li.select("l_orderkey", "ship_day"), partition_by="ship_day")
    wh.create_or_replace("t", li.select("l_orderkey", "l_quantity"))  # new schema
    got = wh.read("t")
    assert set(got.columns) == {"l_orderkey", "l_quantity"}


def test_compaction_preserves_data_and_reduces_files(spark, wh):
    li = _lineitem(spark).repartition(8)
    wh.create_or_replace("t", li)
    before = wh.files("t").count()
    total_before = wh.read("t").agg(F.sum("l_orderkey")).collect()[0][0]
    wh.rewrite_data_files("t", target_file_mb=512)
    after = wh.files("t").count()
    total_after = wh.read("t").agg(F.sum("l_orderkey")).collect()[0][0]
    assert total_after == total_before
    assert after <= before


def test_expire_snapshots_gc(spark, wh):
    li = _lineitem(spark)
    wh.create_or_replace("t", li.limit(100))
    wh.create_or_replace("t", li.limit(200))
    old_files = [
        wh._abs_path("t", f["path"])
        for f in wh._snapshot(wh._load_meta("t"), 1)["manifest"]
    ]
    removed = wh.expire_snapshots("t", keep_last=1)
    assert removed == len([p for p in old_files])
    assert all(not os.path.exists(p) for p in old_files)
    assert wh.read("t").count() == 200
    with pytest.raises(KeyError):
        wh.read("t", snapshot_id=1)


def test_file_skipping_correctness(spark, wh):
    li = _lineitem(spark)
    wh.create_or_replace("t", li, partition_by="ship_day")
    meta = wh._load_meta("t")
    month = meta["snapshots"][-1]["manifest"][0]["partition"]["ship_day"]
    pred = f"ship_day = '{month}'"
    pruned = wh.read("t", where=pred)
    full = wh.read("t").filter(pred)
    assert pruned.count() == full.count() > 0
    # stats-based skipping on a data column min/max
    kept = [
        f
        for f in meta["snapshots"][-1]["manifest"]
        if not wh._can_skip(f, "l_orderkey < -1")
    ]
    assert kept == []  # impossible predicate skips every file


def test_merge_into_semantics(spark, wh):
    """MERGE INTO: updates replace, inserts append, untouched rows survive,
    and the pre-merge snapshot remains time-travelable."""
    li = _lineitem(spark)
    base = li.filter(F.col("l_linenumber") <= 3).select(
        "l_orderkey", "l_linenumber", "l_quantity"
    )
    wh.create_or_replace("t", base)
    n_base = base.count()

    changes = (
        li.filter(F.col("l_linenumber").isin(3, 4))
        .select("l_orderkey", "l_linenumber")
        .withColumn("l_quantity", F.lit(-1.0))
    )
    wh.merge_into("t", changes, on=["l_orderkey", "l_linenumber"])

    merged = wh.read("t")
    n3 = li.filter(F.col("l_linenumber") == 3).count()
    n4 = li.filter(F.col("l_linenumber") == 4).count()
    assert merged.count() == n_base + n4  # inserts added, updates in place
    assert merged.filter(F.col("l_quantity") == -1.0).count() == n3 + n4
    # untouched rows unchanged
    assert merged.filter((F.col("l_linenumber") <= 2) & (F.col("l_quantity") == -1.0)).count() == 0
    # pre-merge state still reachable
    assert wh.read("t", snapshot_id=1).filter(F.col("l_quantity") == -1.0).count() == 0


def test_hidden_partitioning_transforms(spark, wh):
    """Iceberg-style hidden partitioning: days(ts)/months(ts)/bucket(n,col)
    derived by the writer, pruned on read, re-derived on append."""
    li = load(spark, SF, "lineitem").limit(800)
    wh.create_or_replace("t", li.limit(400), partition_by="months(l_shipdate)")
    # writer derived the partition column; user never supplied it
    assert "l_shipdate_months" in wh.read("t").columns
    # append a batch WITHOUT the derived column — writer re-derives
    wh.append("t", li.offset(400) if hasattr(li, "offset") else li.subtract(li.limit(400)))
    assert wh.read("t").count() == 800
    # partition pruning on the hidden column
    meta = wh._load_meta("t")
    month = meta["snapshots"][-1]["manifest"][0]["partition"]["l_shipdate_months"]
    pred = f"l_shipdate_months = '{month}'"
    assert wh.read("t", where=pred).count() == wh.read("t").filter(pred).count() > 0

    # bucket transform — spec murmur3 values, and SOURCE-column equality
    # prunes to the single matching bucket file on the native read path
    # (stats can't: the hash destroys key order)
    from apache_iceberg_demo_spark.sources.transforms import bucket_value

    wh.create_or_replace("tb", li, partition_by="bucket(8, l_orderkey)")
    parts = {f["partition"]["l_orderkey_bucket"]
             for f in wh._load_meta("tb")["snapshots"][-1]["manifest"]}
    assert len(parts) <= 8 and len(parts) > 1
    k = li.select("l_orderkey").first()[0]
    pruned = wh.read("tb", where=f"l_orderkey = {k}")
    assert len(pruned.inputFiles()) == 1
    assert f"l_orderkey_bucket={bucket_value(k, 8)}" in pruned.inputFiles()[0]
    assert pruned.count() == li.filter(F.col("l_orderkey") == k).count() > 0

    # truncate transform: prefix dirs, source-column predicate prunes
    wh.create_or_replace("tt", li, partition_by="truncate(1, l_returnflag)")
    tp = wh.read("tt", where="l_returnflag = 'R'")
    assert len(tp.inputFiles()) < len(wh.read("tt").inputFiles())
    assert tp.count() == li.filter("l_returnflag = 'R'").count() > 0


def test_scd2_history_tracking(spark, wh):
    """SCD2: changed keys get closed-out history rows + a new current row;
    unchanged keys stay current; full history preserved."""
    c = load(spark, SF, "customer").select(
        "c_custkey", "c_mktsegment", "c_acctbal"
    )
    base = (
        c.withColumn("valid_from", F.lit("2020-01-01").cast("timestamp"))
        .withColumn("valid_to", F.lit(None).cast("timestamp"))
    )
    wh.create_or_replace("dim", base)
    n = c.count()

    changes = (
        c.filter(F.col("c_custkey") % 4 == 0)
        .withColumn("c_mktsegment", F.lit("CHANGED"))
        .withColumn("eff", F.lit("2021-06-01").cast("timestamp"))
    )
    n_changed = changes.count()
    wh.apply_scd2("dim", changes, key=["c_custkey"], effective_ts_col="eff")

    out = wh.read("dim")
    assert out.count() == n + n_changed  # history row per change
    cur = out.filter(F.col("valid_to").isNull())
    assert cur.count() == n  # exactly one current row per key
    assert cur.filter(F.col("c_mktsegment") == "CHANGED").count() == n_changed
    closed = out.filter(F.col("valid_to").isNotNull())
    assert closed.count() == n_changed
    assert closed.filter(F.col("c_mktsegment") == "CHANGED").count() == 0


def test_iceberg_fallback_chain(spark, tmp_path):
    """The engineered Iceberg fallback: runtime jar absent here, so the
    write lands in the snapshot warehouse with identical results."""
    from apache_iceberg_demo_spark.sources.iceberg_catalog import (
        iceberg_available,
        iceberg_write_or_fallback,
    )

    assert iceberg_available(spark) is False  # offline environment
    li = load(spark, SF, "lineitem").limit(100)
    backend = iceberg_write_or_fallback(
        spark, li, "cat.db.li_fallback", str(tmp_path / "wh")
    )
    assert backend == "warehouse"
    from apache_iceberg_demo_spark.sources.warehouse import Warehouse

    wh = Warehouse(spark, str(tmp_path / "wh"))
    assert wh.read("li_fallback").count() == 100


def test_schema_evolution_metadata_only(spark, wh):
    """add/rename/drop are metadata-only commits: no file rewritten, old
    snapshots read with their own schema, appends write the new shape."""
    import hashlib

    li = _lineitem(spark).select("l_orderkey", "l_quantity", "l_returnflag")
    wh.create_or_replace("t", li)

    def file_hashes():
        meta = wh._load_meta("t")
        snap = wh._snapshot(meta, meta["current_snapshot_id"])
        return {
            f["path"]: hashlib.md5(
                open(wh._abs_path("t", f["path"]), "rb").read()
            ).hexdigest()
            for f in snap["manifest"]
        }

    before = file_hashes()
    wh.add_column("t", "source_tag", "string")
    wh.rename_column("t", "l_returnflag", "rflag")
    wh.drop_column("t", "l_quantity")
    assert file_hashes() == before  # not a single data file touched

    cur = wh.read("t")
    assert cur.columns == ["l_orderkey", "rflag", "source_tag"]
    assert cur.filter(F.col("source_tag").isNotNull()).count() == 0
    # values survived the rename (old physical column bound by field id)
    assert (
        cur.filter(F.col("rflag").isNull()).count() == 0
        and cur.count() == li.count()
    )
    # time travel to snapshot 1 sees the ORIGINAL schema and values
    v1 = wh.read("t", snapshot_id=1)
    assert v1.columns == ["l_orderkey", "l_quantity", "l_returnflag"]
    assert v1.count() == li.count()

    # append post-evolution: new shape, old rows null-filled for added column
    batch = li.select(
        "l_orderkey", F.col("l_returnflag").alias("rflag")
    ).withColumn("source_tag", F.lit("b2"))
    wh.append("t", batch)
    cur2 = wh.read("t")
    assert cur2.count() == 2 * li.count()
    assert cur2.filter(F.col("source_tag") == "b2").count() == li.count()
    # old physical rflag column and new logical one coalesce into one
    assert cur2.filter(F.col("rflag").isNull()).count() == 0


def test_rename_chain_resolves_oldest_physical(spark, wh):
    """a→b→c renames chain with an append between them: each file's column
    resolves to the physical name it was written under (the original in
    files written before any rename, the middle name in the append), also
    after expiry removed every snapshot that wrote them."""
    li = _lineitem(spark).select("l_orderkey", "l_quantity")
    wh.create_or_replace("t", li)
    wh.rename_column("t", "l_quantity", "qty")
    wh.append("t", li.withColumnRenamed("l_quantity", "qty"))
    wh.rename_column("t", "qty", "quantity")
    wh.expire_snapshots("t", keep_last=1)
    assert len(wh._load_meta("t")["snapshots"]) == 1
    cur = wh.read("t")
    assert cur.columns == ["l_orderkey", "quantity"]
    assert cur.count() == 2 * li.count()
    assert cur.filter(F.col("quantity").isNull()).count() == 0


def test_relocated_warehouse_reads_after_move(spark, tmp_path):
    """A8: move the whole table directory; every snapshot stays readable
    (manifest paths are table-root-relative)."""
    import shutil

    wh = Warehouse(spark, str(tmp_path / "orig"))
    li = _lineitem(spark)
    wh.create_or_replace("t", li.limit(300), partition_by="ship_day")
    wh.append("t", li.subtract(li.limit(300)))
    n_all, n_v1 = wh.read("t").count(), wh.read("t", snapshot_id=1).count()

    shutil.move(str(tmp_path / "orig"), str(tmp_path / "moved"))
    wh2 = Warehouse(spark, str(tmp_path / "moved"))
    assert wh2.read("t").count() == n_all
    assert wh2.read("t", snapshot_id=1).count() == n_v1
    # pruned read + metadata tables also survive the move
    assert wh2.read("t", where="l_linenumber = 1").count() == wh2.read(
        "t"
    ).filter("l_linenumber = 1").count()
    assert wh2.files("t").count() > 0


def test_read_empty_prune_keeps_declared_schema(spark, wh):
    """A where that prunes every file still returns the full declared schema
    (including the partition column) so downstream select/filter work."""
    li = _lineitem(spark)
    wh.create_or_replace("t", li, partition_by="ship_day")
    empty = wh.read("t", where="ship_day = '1900-01'")
    assert empty.count() == 0
    assert set(empty.columns) == set(wh.read("t").columns)
    # downstream ops on the partition column must not raise
    assert empty.select("ship_day").filter(F.col("ship_day").isNull()).count() == 0


def test_read_empty_table_returns_empty_relation(spark, wh):
    """A committed empty DataFrame (empty manifest) reads back as an empty
    relation with the declared schema instead of raising."""
    li = _lineitem(spark).limit(0)
    wh.create_or_replace("t", li)
    got = wh.read("t")
    assert got.count() == 0
    assert got.columns == li.columns


def test_merge_into_partitioned_rewrites_only_touched(spark, wh):
    """MERGE on a partitioned table: only touched partitions are rewritten;
    untouched partitions' files carry over BYTE-IDENTICAL into the new
    manifest, and hidden-transform metadata survives for later appends."""
    import hashlib

    li = load(spark, SF, "lineitem").limit(2000).select(
        "l_orderkey", "l_linenumber", "l_quantity", "l_shipdate"
    )
    wh.create_or_replace("t", li, partition_by="months(l_shipdate)")
    meta = wh._load_meta("t")
    pcol = meta["partition_by"]
    snap1 = wh._snapshot(meta, meta["current_snapshot_id"])
    months = sorted({f["partition"][pcol] for f in snap1["manifest"]})
    assert len(months) >= 3
    target_month = months[0]

    # source touches ONE month only (and lacks the derived column — the
    # writer re-derives it, ADVICE r01)
    changes = (
        wh.read("t")
        .filter(F.col(pcol) == target_month)
        .select("l_orderkey", "l_linenumber", "l_shipdate")
        .withColumn("l_quantity", F.lit(-5.0))
        .drop(pcol)
    )
    pre_hashes = {
        f["path"]: hashlib.md5(
            open(wh._abs_path("t", f["path"]), "rb").read()
        ).hexdigest()
        for f in snap1["manifest"]
        if f["partition"][pcol] != target_month
    }
    # merge on a key that identifies rows uniquely (the synthetic lineitem
    # repeats (l_orderkey, l_linenumber) across months, and a matched row's
    # partition is legitimately touched — so pin matches to the month)
    wh.merge_into("t", changes, on=["l_orderkey", "l_linenumber", "l_shipdate"])

    meta2 = wh._load_meta("t")
    snap2 = wh._snapshot(meta2, meta2["current_snapshot_id"])
    untouched_after = {
        f["path"] for f in snap2["manifest"] if f["partition"][pcol] != target_month
    }
    # untouched entries carried over unchanged, bytes identical
    assert untouched_after == set(pre_hashes)
    for p, h in pre_hashes.items():
        assert hashlib.md5(open(wh._abs_path("t", p), "rb").read()).hexdigest() == h
    # merge semantics held
    merged = wh.read("t")
    assert merged.count() == li.count()
    assert (
        merged.filter(F.col("l_quantity") == -5.0).count()
        == merged.filter(F.col(pcol) == target_month).count()
    )
    # transform spec survived: append WITHOUT the derived column still works
    extra = li.limit(50).withColumn("l_orderkey", F.col("l_orderkey") + 10_000_000)
    wh.append("t", extra.drop(pcol) if pcol in extra.columns else extra)
    assert wh.read("t").count() == li.count() + 50

    # an insert-only merge matches nothing: every file carries, and only
    # the source rows with a new key land, in new files
    meta3 = wh._load_meta("t")
    live = {f["path"] for f in wh._snapshot(meta3, meta3["current_snapshot_id"])["manifest"]}
    on = ["l_orderkey", "l_linenumber", "l_shipdate"]
    old = (
        wh.read("t").orderBy(*on).limit(5).drop(pcol)
        .withColumn("l_quantity", F.lit(-9.0))
    )
    new = old.withColumn("l_orderkey", F.col("l_orderkey") + 20_000_000)
    wh.merge_into("t", old.unionByName(new), on=on, when_matched_update=False)
    meta4 = wh._load_meta("t")
    after = wh._snapshot(meta4, meta4["current_snapshot_id"])["manifest"]
    assert live <= {f["path"] for f in after}
    merged = wh.read("t")
    assert merged.count() == li.count() + 50 + 5
    assert merged.filter(F.col("l_quantity") == -9.0).count() == 5


def test_incremental_read_returns_only_appended_rows(spark, wh):
    li = _lineitem(spark).drop("ship_day")
    first = li.filter(F.col("l_linenumber") <= 2)
    second = li.filter(F.col("l_linenumber").isin(3, 4))
    third = li.filter(F.col("l_linenumber") > 4)
    wh.create_or_replace("t", first)
    wh.append("t", second)
    wh.append("t", third)

    # window (1 -> 3] = snapshots 2+3's added files only
    inc = wh.read_incremental("t", from_snapshot_id=1)
    assert inc.count() == second.count() + third.count()
    # bounded window (1 -> 2]
    inc12 = wh.read_incremental("t", from_snapshot_id=1, to_snapshot_id=2)
    assert inc12.count() == second.count()
    # empty window (same snapshot) -> zero rows, schema intact
    empty = wh.read_incremental("t", from_snapshot_id=3, to_snapshot_id=3)
    assert empty.count() == 0
    assert set(empty.columns) == set(li.columns)
    # where-pushdown applies to the added files only
    filt = wh.read_incremental("t", 1, where="l_linenumber = 3")
    assert filt.count() == li.filter(F.col("l_linenumber") == 3).count()


def test_incremental_read_refuses_rewrite_in_window(spark, wh):
    li = _lineitem(spark).drop("ship_day")
    wh.create_or_replace("t", li.filter(F.col("l_linenumber") <= 3))
    wh.append("t", li.filter(F.col("l_linenumber") == 4))
    wh.rewrite_data_files("t", target_file_mb=1)  # replace snapshot 3
    with pytest.raises(ValueError, match="double-count"):
        wh.read_incremental("t", from_snapshot_id=1)
    # but a window that ends before the rewrite is fine
    assert wh.read_incremental("t", 1, to_snapshot_id=2).count() == li.filter(
        F.col("l_linenumber") == 4
    ).count()


def test_write_audit_publish_staging(spark, wh):
    """WAP: staged snapshots are invisible until published; publish is a
    fast-forward pointer swap; a stale-base publish is refused."""
    li = load(spark, SF, "lineitem").limit(600)
    wh.create_or_replace("wap_t", li.filter(F.col("l_linenumber") <= 2))
    base_n = wh.read("wap_t").count()

    batch = li.filter(F.col("l_linenumber") == 3)
    snap = wh.stage_append("wap_t", batch)
    assert snap["staged"] is True
    assert wh.read("wap_t").count() == base_n  # invisible pre-publish
    assert wh.read("wap_t", snapshot_id=snap["snapshot_id"]).count() == base_n + batch.count()

    wh.publish("wap_t", snap["snapshot_id"])
    assert wh.read("wap_t").count() == base_n + batch.count()

    # double-publish refused (no longer staged)
    with pytest.raises(ValueError):
        wh.publish("wap_t", snap["snapshot_id"])

    # stale-base publish refused: stage, then advance base, then publish
    s2 = wh.stage_append("wap_t", batch.limit(10))
    wh.append("wap_t", batch.limit(5))
    with pytest.raises(ValueError):
        wh.publish("wap_t", s2["snapshot_id"])


def test_can_skip_between_and_conjunction(spark, wh):
    """Manifest skipping handles BETWEEN and AND-conjunctions: one provably
    disjoint conjunct skips the file; unrecognized text never skips."""
    entry = {"partition": {}, "stats": {"x": [10, 20], "y": ["a", "c"]}}
    cs = Warehouse._can_skip
    assert cs(entry, "x BETWEEN 30 AND 40")
    assert not cs(entry, "x BETWEEN 15 AND 40")
    assert cs(entry, "x >= 15 AND x <= 5")  # second conjunct disjoint
    assert cs(entry, "y = 'zzz' AND x >= 0")
    assert not cs(entry, "x >= 15 AND y = 'b'")
    assert not cs(entry, "some_unparseable || garbage")
    # ADVICE r11: any top-level OR disables skipping — the AND split has
    # no precedence awareness, so "a OR b AND c" must never skip on c
    assert not cs(entry, "x = 15 OR y = 'zzz' AND x >= 100")
    assert not cs(entry, "y = 'zzz' OR x = 15")
    assert not cs(entry, "x >= 100 or x <= -5")  # lowercase too
    # ...but OR inside a quoted literal is data, not a connective
    assert cs(entry, "y = 'zzz OR aaa' AND x >= 100")


def test_zorder_registered_query(spark):
    from apache_iceberg_demo_spark.registry import QUERIES, load_all

    load_all()
    row = QUERIES["c6_zorder_clustering"](spark, SF).first()
    # the second-dimension win vs the linear layout is asserted in-query and
    # surfaced as the boolean (file-level kept counts are layout-dependent)
    assert row.zorder_better_second and row.zorder_prunes_both
    assert row.linear_scans_all_second
    assert row.rows_partkey_range > 0 and row.rows_suppkey_range > 0


def test_update_moves_row_across_partitions(spark, wh):
    """UPDATE that changes the partition column rewrites both the old and
    the new partition; DELETE removes only matching rows."""
    li = load(spark, SF, "lineitem").limit(400)
    base = li.withColumn("ship_day", F.date_format("l_shipdate", "yyyy-MM"))
    months = [r.ship_day for r in base.select("ship_day").distinct().collect()]
    src, dst = sorted(months)[0], sorted(months)[-1]
    wh.create_or_replace("rl_t", base, "ship_day")

    n_src = wh.read("rl_t").filter(F.col("ship_day") == src).count()
    n_dst = wh.read("rl_t").filter(F.col("ship_day") == dst).count()
    wh.update_where("rl_t", f"ship_day = '{src}'", {"ship_day": f"'{dst}'"})
    after = wh.read("rl_t")
    assert after.filter(F.col("ship_day") == src).count() == 0
    assert after.filter(F.col("ship_day") == dst).count() == n_dst + n_src
    assert after.count() == 400

    wh.delete_where("rl_t", f"ship_day = '{dst}'")
    assert wh.read("rl_t").count() == 400 - n_dst - n_src


def test_snapshot_diff_cdc_images(spark):
    """The CDC changelog carries both pre- and post-images and its own
    internal invariants (full-diff equality, expected sets, bookkeeping)
    hold — the operator raises on any divergence."""
    from apache_iceberg_demo_spark import registry

    registry.load_all()
    out = registry.QUERIES["c6_snapshot_diff_cdc"](spark, "/root/testdata/sf0.001")
    by_type = {r["change_type"]: r["count"] for r in out.groupBy("change_type").count().collect()}
    assert by_type.get("post_update", 0) > 0
    # every post-image has a matching pre-image (updates rewrite, not insert)
    assert by_type["delete_or_pre_update"] > by_type["post_update"]


def test_partition_evolution_update_and_incremental(spark, tmp_path):
    """UPDATE across a partition-spec boundary stays exact (old-spec files
    lazily rewritten), and incremental read treats the evolve commit as
    metadata-only."""
    from apache_iceberg_demo_spark.sources.warehouse import _content_hash

    wh = Warehouse(spark, str(tmp_path / "wh"))
    li = load(spark, "/root/testdata/sf0.001", "lineitem").limit(400)
    year = F.date_format("l_shipdate", "yyyy")
    a = li.filter("l_orderkey % 2 = 0").withColumn("ship_year", year)
    b = li.filter("l_orderkey % 2 = 1").withColumn("ship_year", year)

    wh.create_or_replace("t", a, "ship_year")
    first = wh._load_meta("t")["current_snapshot_id"]
    wh.evolve_partition_spec("t", "l_returnflag")
    wh.append("t", b)

    # incremental read across the evolve commit sees ONLY the appended batch
    inc = wh.read_incremental("t", first)
    assert _content_hash(inc) == _content_hash(b)

    # cross-vintage UPDATE keyed on the new spec column
    wh.update_where("t", "l_returnflag = 'A'", {"l_tax": "9.9"})
    expected = (
        a.unionByName(b)
        .withColumn(
            "l_tax",
            F.when(F.col("l_returnflag") == "A", 9.9).otherwise(F.col("l_tax")),
        )
    )
    assert _content_hash(wh.read("t")) == _content_hash(expected)


def test_rollback_then_append_continues_line(spark, tmp_path):
    """After a rollback, new appends build on the restored state, and the
    abandoned snapshots stay in history."""
    from apache_iceberg_demo_spark.sources.warehouse import _content_hash

    wh = Warehouse(spark, str(tmp_path / "wh"))
    li = load(spark, "/root/testdata/sf0.001", "lineitem").limit(300)
    a = li.filter("l_linenumber = 1")
    b = li.filter("l_linenumber = 2")
    c = li.filter("l_linenumber = 3")
    wh.create_or_replace("t", a)
    sid_a = wh._load_meta("t")["current_snapshot_id"]
    wh.append("t", b)
    wh.rollback_to("t", sid_a)
    wh.append("t", c)
    assert _content_hash(wh.read("t")) == _content_hash(a.unionByName(c))
    assert len(wh._load_meta("t")["snapshots"]) == 4


def test_branch_append_never_reuses_snapshot_data_dir(spark, wh):
    """Regression (ADVICE r05, high): a commit whose parent sits below the
    max snapshot id (branch append off a stale head) must allocate a FRESH
    data dir — snap-{parent+1} already belongs to a later snapshot, and
    reusing it destroyed that snapshot's committed files."""
    li = _lineitem(spark).select("l_orderkey", "l_quantity")
    b1 = li.filter(F.col("l_orderkey") % 4 == 0)
    b2 = li.filter(F.col("l_orderkey") % 4 == 1)
    b3 = li.filter(F.col("l_orderkey") % 4 == 2)
    b4 = li.filter(F.col("l_orderkey") % 4 == 3)

    wh.create_or_replace("t", b1)          # snap 1
    wh.append("t", b2)                     # snap 2
    wh.append("t", b3)                     # snap 3
    wh.append("t", b4)                     # snap 4
    counts = {i: wh.read("t", snapshot_id=i).count() for i in range(1, 5)}

    # branch rooted at snapshot 1 — its append's data dir must NOT be
    # data/snap-00002 (owned by snapshot 2)
    wh.create_branch("t", "stale", snapshot_id=1)
    extra = li.filter(F.col("l_orderkey") % 4 == 0).limit(5)
    snap = wh.append_to_branch("t", "stale", extra)
    assert snap["snapshot_id"] == 5

    # every pre-existing snapshot still reads back intact, byte-for-row
    for i in range(1, 5):
        assert wh.read("t", snapshot_id=i).count() == counts[i], (
            f"snapshot {i} lost data to the branch append's dir reuse"
        )
    # and the branch line itself is correct: snap-1 rows + the extra batch
    got = wh.read("t", snapshot_id=5).count()
    assert got == counts[1] + extra.count()


def test_append_after_unpublished_stage_keeps_staged_data(spark, wh):
    """Same dir-collision bug, WAP flavor: a normal append after an
    unpublished stage_append shares the staged snapshot's parent — it must
    not overwrite the staged snapshot's files."""
    li = _lineitem(spark).select("l_orderkey", "l_quantity")
    wh.create_or_replace("t", li.limit(100))          # snap 1
    staged = wh.stage_append("t", li.limit(40))       # snap 2, unpublished
    staged_rows = wh.read("t", snapshot_id=staged["snapshot_id"]).count()
    wh.append("t", li.limit(10))                      # snap 3, parent=1 too
    assert (
        wh.read("t", snapshot_id=staged["snapshot_id"]).count() == staged_rows
    ), "append after stage_append clobbered the staged snapshot's data dir"


def test_fast_forward_across_expired_intermediates(spark, wh):
    """Regression (ADVICE r05): expire_snapshots keeps branch HEADS but GCs
    their ancestors; fast_forward's ancestry walk must cross the expired
    gap via the retained lineage map instead of refusing a legal publish."""
    li = _lineitem(spark).select("l_orderkey", "l_quantity")
    wh.create_or_replace("t", li.limit(50))   # snap 1  (main)
    wh.create_branch("t", "dev")              # dev @ 1
    wh.append_to_branch("t", "dev", li.limit(10))  # snap 2 (intermediate)
    wh.append_to_branch("t", "dev", li.limit(10))  # snap 3 (dev head)

    # keep_last=1 retains snap 3 (+ current snap 1 + branch head) but
    # expires intermediate snap 2
    wh.expire_snapshots("t", keep_last=1)
    meta_ids = {s["snapshot_id"] for s in wh._load_meta("t")["snapshots"]}
    assert 2 not in meta_ids, "test premise: intermediate must be expired"

    snap = wh.fast_forward("t", "dev")  # must cross the expired gap
    assert snap["snapshot_id"] == 3
    assert wh.read("t").count() == 70


def test_delete_where_mor_on_empty_table(spark, wh):
    """Regression (ADVICE r05): MoR delete over an empty manifest must read
    back as an empty frame, not IndexError on zero file groups."""
    li = _lineitem(spark).select("l_orderkey", "l_quantity")
    wh.create_or_replace("t", li.filter(F.lit(False)))
    wh.delete_where_mor("t", "l_quantity > 0")
    assert wh.read("t").count() == 0


def test_iceberg_branch_issues_writerv2_calls(spark, monkeypatch, tmp_path):
    """VERDICT r05 item 6: prove branch 2 of the fallback chain (jar
    present) is wired — with `iceberg_available` forced True, the write
    must issue the reference's exact DataFrameWriterV2 sequence
    (writeTo → using('iceberg') → partitionedBy → createOrReplace,
    csv_to_ice.py:58) and never touch the parquet warehouse."""
    from apache_iceberg_demo_spark.sources import iceberg_catalog as ic

    calls: dict = {}

    class FakeWriter:
        def using(self, fmt):
            calls["using"] = fmt
            return self

        def partitionedBy(self, col):
            calls["partitioned_by"] = str(col)
            return self

        def createOrReplace(self):
            calls["create_or_replace"] = True

    class FakeDF:
        def writeTo(self, table):
            calls["table"] = table
            return FakeWriter()

    monkeypatch.setattr(ic, "iceberg_available", lambda s: True)
    backend = ic.iceberg_write_or_fallback(
        spark, FakeDF(), "local.db.trips", str(tmp_path), partition_by="ship_day"
    )
    assert backend == "iceberg"
    assert calls["table"] == "local.db.trips"
    assert calls["using"] == "iceberg"
    assert "ship_day" in calls["partitioned_by"]
    assert calls["create_or_replace"] is True
    assert not (tmp_path / "trips").exists()  # fallback warehouse untouched


def test_iceberg_builder_conf_matches_reference(spark):
    """configure_iceberg_builder must wire the reference's hadoop catalog
    conf keys (csv_to_ice.py:11-13) verbatim."""
    from apache_iceberg_demo_spark.sources import iceberg_catalog as ic

    recorded: dict = {}

    class FakeBuilder:
        def config(self, k, v):
            recorded[k] = v
            return self

    ic.configure_iceberg_builder(FakeBuilder(), "local", "/wh")
    assert recorded == {
        "spark.sql.catalog.local": ic.ICEBERG_CATALOG_IMPL,
        "spark.sql.catalog.local.type": "hadoop",
        "spark.sql.catalog.local.warehouse": "/wh",
    }


def test_partitioned_write_emits_one_file_per_partition_value(spark, wh):
    """_write_data hash-repartitions on the partition column, so each
    partition value gets exactly ONE data file per snapshot regardless of
    upstream parallelism — the layout that stops a W-task writer from
    spraying W x values small files at cluster scale."""
    li = _lineitem(spark).repartition(8)  # deliberately wide upstream
    wh.create_or_replace("t", li, partition_by="ship_day")
    snap = wh._snapshot(wh._load_meta("t"), 1)
    per_value: dict[str, int] = {}
    for f in snap["manifest"]:
        v = f["partition"]["ship_day"]
        per_value[v] = per_value.get(v, 0) + 1
    assert per_value, "no partitioned files in manifest"
    assert max(per_value.values()) == 1, f"multi-file partitions: {per_value}"
    # distinct partition values must all be present
    n_vals = li.select("ship_day").distinct().count()
    assert len(per_value) == n_vals


def test_clustered_write_keeps_range_layout(spark, wh):
    """cluster_by (sort-order) tables skip the hash repartition: file
    min/max ranges on the cluster key must stay disjoint-ish (each file a
    tight range), which a hash shuffle would destroy."""
    li = _lineitem(spark)
    wh.create_or_replace("t", li, cluster_by=["l_orderkey"])
    snap = wh._snapshot(wh._load_meta("t"), 1)
    ranges = sorted(
        (f["stats"]["l_orderkey"][0], f["stats"]["l_orderkey"][1])
        for f in snap["manifest"]
        if "l_orderkey" in f.get("stats", {})
    )
    assert ranges, "no per-file stats recorded"
    for (lo1, hi1), (lo2, _hi2) in zip(ranges, ranges[1:]):
        assert hi1 <= lo2, f"overlapping clustered ranges: {ranges}"


def test_missing_data_file_fails_loudly(spark, wh):
    """A manifest entry whose data file vanished must raise, never serve a
    silently partial result — the worst failure class for a table format."""
    li = _lineitem(spark)
    wh.create_or_replace("t", li, partition_by="ship_day")
    snap = wh._snapshot(wh._load_meta("t"), 1)
    victim = wh._abs_path("t", snap["manifest"][0]["path"])
    os.remove(victim)
    with pytest.raises(Exception):
        wh.read("t").count()


def test_corrupt_metadata_fails_loudly(spark, wh):
    li = _lineitem(spark)
    wh.create_or_replace("t", li)
    with open(wh._meta_path("t", wh._load_meta("t")["commit_seq"]), "w") as f:
        f.write("{not json")
    with pytest.raises(Exception):
        wh.read("t")


def test_stale_writer_commit_conflicts(spark, wh):
    """Optimistic concurrency: a writer holding metadata loaded BEFORE a
    competing commit must get CommitConflictError on store, never silently
    overwrite the other writer's snapshot (lost update)."""
    from apache_iceberg_demo_spark.sources.warehouse import CommitConflictError

    li = _lineitem(spark).select("l_orderkey", "l_quantity")
    wh.create_or_replace("t", li.filter(F.col("l_orderkey") % 2 == 0))
    stale = wh._load_meta("t")  # writer B's view
    wh.append("t", li.filter(F.col("l_orderkey") % 2 == 1))  # writer A wins
    with pytest.raises(CommitConflictError):
        wh._store_meta("t", stale)
    # the winning commit is intact
    assert wh._load_meta("t")["current_snapshot_id"] == 2


def test_concurrent_append_retries_and_merges(spark, wh, monkeypatch):
    """Fast-append retry: writer B's commit hits a conflict because writer A
    commits in between; B must reload and reapply, ending with BOTH batches
    live on a linear snapshot log."""
    from apache_iceberg_demo_spark.sources.warehouse import Warehouse

    li = _lineitem(spark).select("l_orderkey", "l_quantity")
    base = li.filter(F.col("l_orderkey") % 3 == 0)
    batch_a = li.filter(F.col("l_orderkey") % 3 == 1)
    batch_b = li.filter(F.col("l_orderkey") % 3 == 2)
    wh.create_or_replace("t", base)

    rival = Warehouse(spark, wh.root)
    real_store = Warehouse._store_meta
    fired = {"done": False}

    def racing_store(self, name, meta):
        # writer A sneaks its append in right before B's first store
        if not fired["done"] and self is wh:
            fired["done"] = True
            rival.append("t", batch_a)
        return real_store(self, name, meta)

    monkeypatch.setattr(Warehouse, "_store_meta", racing_store)
    snap = wh.append("t", batch_b)  # writer B: conflicts once, retries
    monkeypatch.undo()

    assert fired["done"]
    n = wh.read("t").count()
    assert n == base.count() + batch_a.count() + batch_b.count()
    meta = wh._load_meta("t")
    # linear log: B's final snapshot parents A's, nothing lost
    by_id = {s["snapshot_id"]: s for s in meta["snapshots"]}
    assert snap["parent_id"] in by_id
    assert by_id[snap["parent_id"]]["operation"] == "append"


def test_threaded_appends_all_land(spark, wh):
    """True-thread commit race: N writers append concurrently through the
    lock-file CAS; every batch must land on one linear snapshot log with
    no lost update and no shared data directory."""
    import threading

    li = _lineitem(spark).select("l_orderkey", "l_quantity")
    wh.create_or_replace("t", li.filter(F.col("l_orderkey") % 5 == 4))
    batches = [li.filter(F.col("l_orderkey") % 5 == i) for i in range(3)]
    errors: list[Exception] = []

    def writer(df):
        try:
            wh.append("t", df)
        except Exception as ex:  # surfaced after join
            errors.append(ex)

    threads = [threading.Thread(target=writer, args=(b,)) for b in batches]
    for t_ in threads:
        t_.start()
    for t_ in threads:
        t_.join()
    assert not errors, errors
    expected = li.filter(F.col("l_orderkey") % 5 == 4).count() + sum(
        b.count() for b in batches
    )
    assert wh.read("t").count() == expected
    meta = wh._load_meta("t")
    # linear ancestry: each append parents the previous head
    ids = sorted(s["snapshot_id"] for s in meta["snapshots"])
    assert len(ids) == 4
    by_id = {s["snapshot_id"]: s for s in meta["snapshots"]}
    head = meta["current_snapshot_id"]
    seen = []
    while head is not None:
        seen.append(head)
        head = by_id[head]["parent_id"]
    assert sorted(seen) == ids, "snapshot log is not one linear chain"
    # each append ADDS a data dir its parent lacks, and no two appends
    # added the same dir (the uuid-tag guarantee under concurrency)
    def dirs_of(s):
        return {
            e["path"].split(os.sep)[1]
            for e in s["manifest"]
            if e["path"].startswith("data")
        }

    added = [
        dirs_of(s) - dirs_of(by_id[s["parent_id"]])
        for s in meta["snapshots"]
        if s["operation"] == "append"
    ]
    assert all(added), "an append committed no new files"
    flat = [d for a in added for d in a]
    assert len(flat) == len(set(flat)), "two appends shared a data dir"


def test_threaded_branch_appends_all_land(spark, wh):
    """True-thread race on ONE branch: N writers append_to_branch
    concurrently; every batch must land in the branch head's manifest (the
    losers re-chain instead of overwriting the pointer) and the branch
    lineage must be one chain reaching every appended snapshot."""
    import threading

    li = _lineitem(spark).select("l_orderkey", "l_quantity")
    base = li.filter(F.col("l_orderkey") % 5 == 4)
    wh.create_or_replace("t", base)
    wh.create_branch("t", "b")
    batches = [li.filter(F.col("l_orderkey") % 5 == i) for i in range(3)]
    errors: list[Exception] = []

    def writer(df):
        try:
            wh.append_to_branch("t", "b", df)
        except Exception as ex:  # surfaced after join
            errors.append(ex)

    threads = [threading.Thread(target=writer, args=(b,)) for b in batches]
    for t_ in threads:
        t_.start()
    for t_ in threads:
        t_.join()
    assert not errors, errors

    meta = wh._load_meta("t")
    head = meta["branches"]["b"]
    expected = base.count() + sum(b.count() for b in batches)
    assert wh.read("t", snapshot_id=head).count() == expected, (
        "a concurrent branch append's rows were lost"
    )
    # main never moved, and the branch lineage is one chain over all appends
    assert meta["current_snapshot_id"] == 1
    by_id = {s["snapshot_id"]: s for s in meta["snapshots"]}
    node, chain = head, set()
    while node is not None:
        chain.add(node)
        node = by_id[node]["parent_id"]
    appended = {
        s["snapshot_id"]
        for s in meta["snapshots"]
        if s["operation"] == "append"
    }
    assert appended <= chain, "an appended snapshot fell out of the lineage"


def test_branch_append_rechains_on_rival_advance(spark, wh, monkeypatch):
    """Regression (ADVICE r07, medium): two concurrent appends to the SAME
    branch both chain off the same resolved head; the loser must RE-CHAIN
    its already-written snapshot onto the rival's new branch head (manifest
    = new head's manifest + own delta), not overwrite the branch pointer
    and silently drop the rival's snapshot from the branch lineage."""
    from apache_iceberg_demo_spark.sources.warehouse import (
        Warehouse,
        _content_hash,
    )

    li = _lineitem(spark).select("l_orderkey", "l_quantity")
    base = li.filter(F.col("l_orderkey") % 4 == 0)
    batch_r = li.filter(F.col("l_orderkey") % 4 == 1)
    batch_a = li.filter(F.col("l_orderkey") % 4 == 2)
    wh.create_or_replace("t", base)  # snap 1
    wh.create_branch("t", "b")
    stale_head = wh.resolve_branch("t", "b")

    rival = Warehouse(spark, wh.root)
    rsnap = rival.append_to_branch("t", "b", batch_r)

    # writer A resolved the branch BEFORE the rival committed: pin its
    # resolve to the stale head so the pointer-store retry sees the advance
    monkeypatch.setattr(
        Warehouse, "resolve_branch", lambda self, n, b: stale_head
    )
    snap = wh.append_to_branch("t", "b", batch_a)
    monkeypatch.undo()

    # A's snapshot was reparented onto the rival's — nothing dropped
    assert snap["parent_id"] == rsnap["snapshot_id"]
    meta = wh._load_meta("t")
    assert meta["branches"]["b"] == snap["snapshot_id"]
    # the branch head's content is base + BOTH appends
    got = wh.read("t", snapshot_id=snap["snapshot_id"])
    assert _content_hash(got) == _content_hash(
        base.unionByName(batch_r).unionByName(batch_a)
    )
    # lineage from the branch head reaches the rival's snapshot
    by_id = {s["snapshot_id"]: s for s in meta["snapshots"]}
    node, seen = snap["snapshot_id"], []
    while node is not None:
        seen.append(node)
        node = by_id[node]["parent_id"]
    assert rsnap["snapshot_id"] in seen
    # main never moved
    assert meta["current_snapshot_id"] == 1


def test_crashed_writer_never_blocks_a_commit(spark, wh):
    """A writer that died mid-commit leaves a temp file, or a version below
    the current one that it never cleaned up. Neither is a lock: the next
    commit lands, and the older version goes in its cleanup."""
    import shutil as _shutil

    li = _lineitem(spark).select("l_orderkey", "l_quantity")
    wh.create_or_replace("t", li.filter(F.col("l_orderkey") % 2 == 0))
    wh.append("t", li.filter(F.col("l_orderkey") % 3 == 0))
    assert wh._versions("t") == [2]
    _shutil.copy(wh._meta_path("t", 2), wh._meta_path("t", 1))
    tmp = wh._meta_path("t", 3) + ".crashed.tmp"
    open(tmp, "w").close()
    snap = wh.append("t", li.filter(F.col("l_orderkey") % 2 == 1))
    assert snap["operation"] == "append"
    assert wh._versions("t") == [3]
    want = li.filter(F.col("l_orderkey") % 2 == 0).count() + sum(
        li.filter(F.col("l_orderkey") % m == r).count() for m, r in ((3, 0), (2, 1))
    )
    assert wh.read("t").count() == want
    # orphan cleanup removes the crashed writer's temp file
    assert wh.remove_orphan_files("t") == 1
    assert not os.path.exists(tmp)


def test_branch_and_stage_never_expose_unpublished_state(spark, wh, monkeypatch):
    """Isolation regression: NO intermediate metadata store during a branch
    append or a WAP stage may leave main's current pointer on the
    unpublished snapshot — the old temporarily-redirect-main dance let a
    concurrent reader see branch/staged data."""
    from apache_iceberg_demo_spark.sources.warehouse import Warehouse

    li = _lineitem(spark).select("l_orderkey", "l_quantity")
    wh.create_or_replace("t", li.filter(F.col("l_orderkey") % 2 == 0))
    main_head = wh._load_meta("t")["current_snapshot_id"]

    observed: list[int] = []
    real_store = Warehouse._store_meta

    def spying_store(self, name, meta):
        observed.append(meta["current_snapshot_id"])
        return real_store(self, name, meta)

    monkeypatch.setattr(Warehouse, "_store_meta", spying_store)
    wh.create_branch("t", "audit")
    wh.append_to_branch("t", "audit", li.filter(F.col("l_orderkey") % 2 == 1))
    wh.stage_append("t", li.limit(10))
    monkeypatch.undo()

    assert observed, "no stores observed"
    assert set(observed) == {main_head}, (
        f"an intermediate store moved main off {main_head}: {observed}"
    )
    # and main still reads only its own rows
    assert wh.read("t").count() == li.filter(F.col("l_orderkey") % 2 == 0).count()


@pytest.mark.parametrize("op", ["create", "replace", "delete_mor", "stage", "apply_deletes"])
def test_mutator_stores_metadata_once(spark, wh, monkeypatch, op):
    """Each of these mutators is one commit: one ``_store_meta``, so no
    intermediate version is ever published without the operation's own
    fields (a delete entry, the staged flag, the spec)."""
    li = _lineitem(spark).select("l_orderkey", "l_quantity")
    if op != "create":
        wh.create_or_replace("t", li.limit(100))
    if op == "apply_deletes":
        wh.delete_where_mor("t", "l_orderkey % 2 = 0")
    stores = []
    real_store = Warehouse._store_meta

    def counting_store(self, name, meta):
        stores.append(meta["current_snapshot_id"])
        return real_store(self, name, meta)

    monkeypatch.setattr(Warehouse, "_store_meta", counting_store)
    if op in ("create", "replace"):
        wh.create_or_replace("t", li.limit(50), partition_by="l_quantity")
    elif op == "delete_mor":
        snap = wh.delete_where_mor("t", "l_quantity > 10")
        assert [d["predicate"] for d in snap["delete_predicates"]] == ["l_quantity > 10"]
    elif op == "stage":
        assert wh.stage_append("t", li.limit(10))["staged"] is True
    else:
        assert "delete_predicates" not in wh.apply_deletes("t")
    monkeypatch.undo()
    assert len(stores) == 1, stores
    meta = wh._load_meta("t")
    if op in ("create", "replace"):
        assert meta["partition_spec"] == "l_quantity"
    if op == "stage":
        assert meta["snapshots"][-1]["staged"] is True


def test_mor_delete_never_half_commits(spark, wh, monkeypatch):
    """A rival append lands between ``delete_where_mor``'s load and the
    store of its delete entry. Either the delete commits with its entry,
    or it raises CommitConflictError and no ``delete-mor`` snapshot is in
    the log: a snapshot that deleted nothing would read differently once
    its entry landed."""
    from apache_iceberg_demo_spark.sources.warehouse import CommitConflictError

    li = _lineitem(spark).select("l_orderkey", "l_quantity")
    wh.create_or_replace("t", li.filter(F.col("l_orderkey") % 2 == 0))
    rival = Warehouse(spark, wh.root)
    real_store = Warehouse._store_meta
    fired = []

    def racing_store(self, name, meta):
        carries_entry = any(
            s["operation"] == "delete-mor" and s.get("delete_predicates")
            for s in meta["snapshots"]
        )
        if self is wh and carries_entry and not fired:
            fired.append(True)
            rival.append(name, li.filter(F.col("l_orderkey") % 2 == 1))
        return real_store(self, name, meta)

    monkeypatch.setattr(Warehouse, "_store_meta", racing_store)
    try:
        snap = wh.delete_where_mor("t", "l_quantity > 10")
    except CommitConflictError:
        snap = None
    monkeypatch.undo()

    assert fired
    snaps = wh._load_meta("t")["snapshots"]
    mor = [s for s in snaps if s["operation"] == "delete-mor"]
    if snap is None:
        assert mor == [], "a delete-mor snapshot without its entry is in the log"
        assert wh.read("t").count() == li.count()
    else:
        assert [s["snapshot_id"] for s in mor] == [snap["snapshot_id"]]
        assert mor[0]["delete_predicates"][0]["predicate"] == "l_quantity > 10"


def test_rollback_restores_the_targets_deletes(spark, wh):
    """A rollback reads as its target did, merge-on-read deletes included:
    back to a snapshot after a delete the rows stay deleted (even across a
    replace, whose new files inherit no delete entry), and back to one
    before it they return."""
    df = spark.createDataFrame([(i, i * 10) for i in range(1, 7)], "k int, v int")
    wh.create_or_replace("t", df)  # 1
    wh.delete_where_mor("t", "k <= 2")  # 2
    wh.create_or_replace("t", df.filter("k > 4"))  # 3
    assert "delete_predicates" not in wh._snapshot(wh._load_meta("t"), 3)
    wh.rollback_to("t", 2)
    assert sorted(r.k for r in wh.read("t").collect()) == [3, 4, 5, 6]
    wh.rollback_to("t", 1)
    assert sorted(r.k for r in wh.read("t").collect()) == [1, 2, 3, 4, 5, 6]


def test_expire_commits_metadata_before_deleting_files(spark, wh, monkeypatch):
    """Crash-safety order (Iceberg expire contract): if the metadata store
    fails, NO data file may have been deleted — the failure mode is extra
    orphan files, never committed metadata referencing deleted files."""
    from apache_iceberg_demo_spark.sources.warehouse import (
        CommitConflictError,
        Warehouse,
    )

    li = _lineitem(spark).select("l_orderkey", "l_quantity")
    wh.create_or_replace("t", li.limit(100))
    wh.create_or_replace("t", li.limit(200))
    old_files = [
        wh._abs_path("t", f["path"])
        for f in wh._snapshot(wh._load_meta("t"), 1)["manifest"]
    ]

    def failing_store(self, name, meta):
        raise CommitConflictError("injected")

    monkeypatch.setattr(Warehouse, "_store_meta", failing_store)
    with pytest.raises(CommitConflictError):
        wh.expire_snapshots("t", keep_last=1)
    monkeypatch.undo()
    # every snapshot-1 file survived the failed expire; time travel intact
    assert all(os.path.exists(p) for p in old_files)
    assert wh.read("t", snapshot_id=1).count() == 100


def test_orphan_removal_age_guard_spares_fresh_files(spark, wh):
    """min_age_s (Iceberg's older_than valve): a fresh unreferenced file —
    a concurrent writer's not-yet-committed output — must survive an aged
    GC pass and fall to an immediate one."""
    li = _lineitem(spark).select("l_orderkey", "l_quantity")
    wh.create_or_replace("t", li.limit(50))
    fresh = os.path.join(wh._table_dir("t"), "data", "inflight", "part-0.parquet")
    os.makedirs(os.path.dirname(fresh), exist_ok=True)
    li.limit(5).toPandas().to_parquet(fresh)
    assert wh.remove_orphan_files("t", min_age_s=3600) == 0
    assert os.path.exists(fresh)
    assert wh.remove_orphan_files("t") == 1
    assert not os.path.exists(fresh)


def test_two_writers_at_one_version_exactly_one_commits(spark, wh):
    """Two writers loaded at version N: the exclusive create lets exactly
    one of them commit N+1; the other gets CommitConflictError, reloads,
    and commits N+2 over it, so neither update is lost."""
    from apache_iceberg_demo_spark.sources.warehouse import CommitConflictError

    li = _lineitem(spark).select("l_orderkey", "l_quantity")
    wh.create_or_replace("t", li.limit(10))
    a, b = wh._load_meta("t"), wh._load_meta("t")
    assert a["commit_seq"] == b["commit_seq"] == 1
    a.setdefault("refs", {})["a"] = 1
    b.setdefault("refs", {})["b"] = 1
    wh._store_meta("t", a)
    with pytest.raises(CommitConflictError):
        wh._store_meta("t", b)
    assert b["commit_seq"] == 1, "a failed store moved the writer's base"
    assert wh._versions("t") == [2]
    assert wh._load_meta("t")["refs"] == {"a": 1}
    b = wh._load_meta("t")
    b["refs"]["b"] = 1
    wh._store_meta("t", b)
    meta = wh._load_meta("t")
    assert meta["commit_seq"] == 3 and meta["refs"] == {"a": 1, "b": 1}
    assert sorted(os.listdir(os.path.dirname(wh._meta_path("t", 3)))) == [
        "v3.metadata.json"
    ]


def test_stale_writer_over_a_cleaned_up_version_conflicts(spark, wh):
    """Cleanup frees the names of old versions, so a writer loaded two
    commits ago can create its target again. The listing after the create
    sees a newer version that does not descend from it: the writer's file
    goes and the commit conflicts, leaving the current version as it was."""
    from apache_iceberg_demo_spark.sources.warehouse import CommitConflictError

    li = _lineitem(spark).select("l_orderkey", "l_quantity")
    wh.create_or_replace("t", li.filter(F.col("l_orderkey") % 2 == 0))
    stale = wh._load_meta("t")
    wh.append("t", li.filter(F.col("l_orderkey") % 4 == 1))
    wh.append("t", li.filter(F.col("l_orderkey") % 4 == 3))
    assert wh._versions("t") == [3]
    before = open(wh._meta_path("t", 3)).read()
    stale.setdefault("refs", {})["stale"] = 1
    with pytest.raises(CommitConflictError):
        wh._store_meta("t", stale)
    assert wh._versions("t") == [3]
    assert open(wh._meta_path("t", 3)).read() == before
    assert wh.read("t").count() == li.count()


def test_commit_built_on_before_its_check_still_lands(spark, wh, monkeypatch):
    """A rival may load a writer's new version and commit on top of it
    before the writer lists the directory. The writer's commit is then
    part of the table: it must not report a conflict, or the append retry
    would add its files a second time."""
    from apache_iceberg_demo_spark.sources.warehouse import _content_hash

    li = _lineitem(spark).select("l_orderkey", "l_quantity")
    base = li.filter(F.col("l_orderkey") % 3 == 0)
    batch_a = li.filter(F.col("l_orderkey") % 3 == 1)
    batch_b = li.filter(F.col("l_orderkey") % 3 == 2)
    wh.create_or_replace("t", base)
    rival = Warehouse(spark, wh.root)
    real_link = os.link
    fired = []

    def link_then_rival_commits(src, dst):
        real_link(src, dst)
        if not fired:
            fired.append(dst)
            rival.append("t", batch_a)

    monkeypatch.setattr(os, "link", link_then_rival_commits)
    snap = wh.append("t", batch_b)
    monkeypatch.undo()

    assert fired and fired[0].endswith("v2.metadata.json")
    meta = wh._load_meta("t")
    assert meta["commit_seq"] == 3 and wh._versions("t") == [3]
    assert [s["operation"] for s in meta["snapshots"]] == ["replace", "append", "append"]
    assert meta["snapshots"][1]["snapshot_id"] == snap["snapshot_id"]
    assert _content_hash(wh.read("t")) == _content_hash(
        base.unionByName(batch_b).unionByName(batch_a)
    )


def test_commit_protocol_stress_every_update_lands_once(tmp_path):
    """Metadata-only read-modify-write commits from more threads than
    cores, with a short switch interval: each increment lands exactly
    once. A lost update reads low; a commit reported as a conflict after
    it landed is retried and reads high."""
    import sys
    import threading

    from apache_iceberg_demo_spark.sources.warehouse import CommitConflictError

    wh = Warehouse(None, str(tmp_path / "wh"))
    wh._store_meta("t", {"n": 0})
    n_threads, per_thread = 8, 25

    def writer():
        for _ in range(per_thread):
            while True:
                meta = wh._load_meta("t")
                meta["n"] += 1
                try:
                    wh._store_meta("t", meta)
                    break
                except CommitConflictError:
                    continue

    threads = [threading.Thread(target=writer) for _ in range(n_threads)]
    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        for t_ in threads:
            t_.start()
        for t_ in threads:
            t_.join(timeout=120)
    finally:
        sys.setswitchinterval(old)
    assert not any(t_.is_alive() for t_ in threads)
    total = n_threads * per_thread
    assert wh._load_meta("t")["n"] == total
    assert wh._versions("t") == [total + 1]


def test_reader_whose_version_is_removed_rereads(spark, wh, monkeypatch):
    """A reader lists the directory, then a commit removes the version it
    chose before the open: the load lists again and returns the rows of
    the version that replaced it."""
    li = _lineitem(spark).select("l_orderkey", "l_quantity")
    wh.create_or_replace("t", li.filter(F.col("l_orderkey") % 2 == 0))
    rival = Warehouse(spark, wh.root)
    real_versions = Warehouse._versions
    fired = []

    def list_then_rival_commits(self, name):
        listed = real_versions(self, name)
        if self is wh and not fired:
            fired.append(listed)
            rival.append(name, li.filter(F.col("l_orderkey") % 2 == 1))
        return listed

    monkeypatch.setattr(Warehouse, "_versions", list_then_rival_commits)
    got = wh.read("t").count()
    monkeypatch.undo()

    assert fired == [[1]] and wh._versions("t") == [2]
    assert got == li.count()


def test_branch_rechain_survives_expired_old_head(spark, wh, monkeypatch):
    """ADVICE r08: the re-chain delta must come from the append's OWN file
    list, not a diff against the old head's manifest — once a rival
    advances the branch the old head loses its ref pin, and a concurrent
    expire_snapshots can reduce it to an expired_parents stub. The old
    diff-based code then raised KeyError and stranded the already-
    committed snapshot as an orphan."""
    from apache_iceberg_demo_spark.sources.warehouse import (
        Warehouse,
        _content_hash,
    )

    li = _lineitem(spark).select("l_orderkey", "l_quantity")
    base = li.filter(F.col("l_orderkey") % 4 == 0)
    batch_r = li.filter(F.col("l_orderkey") % 4 == 1)
    batch_a = li.filter(F.col("l_orderkey") % 4 == 2)
    wh.create_or_replace("t", base)  # snap 1
    wh.create_branch("t", "b")
    wh.append_to_branch("t", "b", li.filter(F.col("l_orderkey") % 4 == 3))
    stale_head = wh.resolve_branch("t", "b")

    rival = Warehouse(spark, wh.root)
    real_append = Warehouse.append
    rsnap = {}

    def append_then_rival_advances_and_head_expires(self, name, df, **kw):
        snap = real_append(self, name, df, **kw)
        if not rsnap:
            # between A's commit and its branch-pointer store: the rival
            # advances the branch, then an expire_snapshots run removes
            # the now-unpinned old head, leaving only a lineage stub
            monkeypatch.setattr(Warehouse, "append", real_append)
            rsnap.update(rival.append_to_branch(name, "b", batch_r))
            meta = self._load_meta(name)
            gone = [
                s for s in meta["snapshots"] if s["snapshot_id"] == stale_head
            ][0]
            meta["snapshots"] = [
                s for s in meta["snapshots"] if s["snapshot_id"] != stale_head
            ]
            meta.setdefault("expired_parents", {})[str(stale_head)] = gone[
                "parent_id"
            ]
            self._store_meta(name, meta)
        return snap

    monkeypatch.setattr(
        Warehouse, "resolve_branch", lambda self, n, b: stale_head
    )
    monkeypatch.setattr(
        Warehouse, "append", append_then_rival_advances_and_head_expires
    )
    snap = wh.append_to_branch("t", "b", batch_a)
    monkeypatch.undo()

    assert rsnap, "rival interleave did not fire"
    assert snap["parent_id"] == rsnap["snapshot_id"]
    meta = wh._load_meta("t")
    assert meta["branches"]["b"] == snap["snapshot_id"]
    got = wh.read("t", snapshot_id=snap["snapshot_id"])
    assert _content_hash(got) == _content_hash(
        base.unionByName(li.filter(F.col("l_orderkey") % 4 == 3))
        .unionByName(batch_r)
        .unionByName(batch_a)
    )


def test_uri_root_warehouse_full_surface(spark, tmp_path):
    """Scheme neutrality (r09 VERDICT item 3): a warehouse addressed by a
    ``file://`` URI — how the reference addresses its warehouse on MinIO
    (``s3a://warehouse``, csv_to_ice.py:6) — must behave byte-identically
    to one addressed by the plain path: writes, reads, time travel,
    row-level deletes, expiry, relocation, and Iceberg-v2 export."""
    li = _lineitem(spark)
    first = li.filter(F.col("l_linenumber") <= 2)
    rest = li.filter(F.col("l_linenumber") > 2)

    uri_root = "file://" + str(tmp_path / "wh_uri")
    wh = Warehouse(spark, uri_root)
    assert wh.root_uri == uri_root and wh.root == str(tmp_path / "wh_uri")

    wh.create_or_replace("t", first, partition_by="ship_day")
    wh.append("t", rest)
    assert wh.read("t").count() == li.count()
    assert wh.read("t", snapshot_id=1).count() == first.count()
    # layout parity: same metadata shape as a plain-path warehouse
    plain = Warehouse(spark, str(tmp_path / "wh_plain"))
    plain.create_or_replace("t", first, partition_by="ship_day")
    plain.append("t", rest)
    m_uri, m_plain = wh._load_meta("t"), plain._load_meta("t")
    assert [f["path"] for f in m_uri["snapshots"][0]["manifest"]] != []
    assert {k for k in m_uri} == {k for k in m_plain}

    # mutators work through the URI root
    wh.delete_where("t", "l_linenumber = 7")
    assert wh.read("t").filter("l_linenumber = 7").count() == 0
    wh.expire_snapshots("t", keep_last=1)

    # relocation (A8): a URI-rooted warehouse copied elsewhere stays
    # readable through its new URI — manifest paths are root-relative
    import shutil

    moved = str(tmp_path / "wh_moved")
    shutil.copytree(wh.root, moved)
    wh2 = Warehouse(spark, "file://" + moved)
    assert wh2.read("t").count() == wh.read("t").count()

    # Iceberg-v2 export composes with URI roots
    from apache_iceberg_demo_spark.sources.iceberg_v2 import (
        export_iceberg_v2,
        read_iceberg_v2,
    )

    loc = export_iceberg_v2(wh, "t", str(tmp_path / "ice"))
    assert read_iceberg_v2(spark, loc).count() == wh.read("t").count()


def test_non_file_scheme_rejected_loudly(spark, tmp_path):
    with pytest.raises(NotImplementedError, match="s3a"):
        Warehouse(spark, "s3a://warehouse/demo")


def test_null_partition_values_route_and_export(spark, tmp_path):
    """Round-13 probe findings, pinned: NULL partition values.

    (1) DELETE/UPDATE used to silently SKIP rows whose partition value
    is NULL — `pv.isin(touched)` is NULL for them under SQL three-valued
    logic, so they never entered the rewrite (identity AND transform
    tables alike). Routing now coalesces null to a NUL-byte sentinel on
    both the frame and manifest side. (2) The v2 export crashed on the
    __HIVE_DEFAULT_PARTITION__ dir string; the manifest now records a
    real None, which serializes as an Avro null partition value with
    contains_null summaries. (3) _can_skip treats a null partition value
    as all-rows-null (no comparison matches — sound skip)."""
    from apache_iceberg_demo_spark.io import load
    from apache_iceberg_demo_spark.sources.iceberg_v2 import (
        export_iceberg_v2,
        read_iceberg_v2,
    )

    wh = Warehouse(spark, str(tmp_path / "wh"))
    o = load(spark, SF, "orders").filter(F.col("o_orderkey") % 20 == 0)
    on = o.withColumn(
        "o_orderdate",
        F.when(F.col("o_orderkey") % 100 == 0, F.lit(None)).otherwise(
            F.col("o_orderdate")
        ),
    )
    n_null = on.filter(F.col("o_orderdate").isNull()).count()
    assert n_null > 0

    wh.create_or_replace("t", on, partition_by="days(o_orderdate)")
    # delete + update on a NULL-partition row actually apply
    probe = on.filter(F.col("o_orderdate").isNull()).select(
        "o_orderkey"
    ).first()[0]
    wh.update_where("t", f"o_orderkey = {probe}", {"o_orderstatus": "'Z'"})
    assert wh.read("t").filter(
        F.col("o_orderkey") == probe
    ).first()["o_orderstatus"] == "Z"
    wh.delete_where("t", f"o_orderkey = {probe}")
    assert wh.read("t").filter(F.col("o_orderkey") == probe).count() == 0
    assert wh.read("t").count() == on.count() - 1

    # manifest records None (not the hive sentinel); export round-trips
    meta = wh._load_meta("t")
    cur = wh._snapshot(meta, meta["current_snapshot_id"])
    nulls = [
        f for f in cur["manifest"]
        if f["partition"].get("o_orderdate_days") is None
    ]
    assert nulls and not any(
        "HIVE_DEFAULT" in str(f["partition"]) for f in cur["manifest"]
    )
    loc = export_iceberg_v2(wh, "t", str(tmp_path / "ice"))
    got = read_iceberg_v2(spark, loc)
    assert got.count() == on.count() - 1
    assert got.filter(F.col("o_orderdate").isNull()).count() == n_null - 1
    w = "o_orderdate >= '1995-01-01'"
    assert read_iceberg_v2(spark, loc, where=w).count() == \
        got.filter(w).count()

    # bucket with null keys exports too
    on2 = o.withColumn(
        "o_custkey",
        F.when(F.col("o_orderkey") % 100 == 0, F.lit(None)).otherwise(
            F.col("o_custkey")
        ),
    )
    wh.create_or_replace("b", on2, partition_by="bucket(4, o_custkey)")
    locb = export_iceberg_v2(wh, "b", str(tmp_path / "iceb"))
    assert read_iceberg_v2(spark, locb).count() == on2.count()

    # _can_skip: null partition value skips comparisons, stats unaffected
    entry = {"partition": {"d": None}, "stats": {}}
    assert Warehouse._can_skip(entry, "d = '1995-01-01'")
    assert Warehouse._can_skip(entry, "d >= '1995-01-01'")


def test_merge_after_spec_evolution_no_duplication(spark, tmp_path):
    """Round-13 probe finding, pinned: MERGE's old hand-rolled tail
    CARRIED legacy (earlier-spec) files while their touched rows were
    also rewritten — duplicating every merged row that lived in a
    pre-evolution file. merge_into now commits through the shared
    copy-on-write path: a legacy file group holding a matched row is
    rewritten whole."""
    from apache_iceberg_demo_spark.io import load

    wh = Warehouse(spark, str(tmp_path / "wh"))
    o = load(spark, SF, "orders").filter(F.col("o_orderkey") % 20 == 0)
    half = o.filter(F.col("o_orderkey") % 40 == 0)
    other = o.filter(F.col("o_orderkey") % 40 == 20).select(*half.columns)
    probe = half.select("o_orderkey").first()[0]

    # identity evolution, then merge a key living in a legacy file
    ys = F.date_format("o_orderdate", "yyyy")
    wh.create_or_replace("m", half.withColumn("oy", ys), partition_by="oy")
    wh.evolve_partition_spec("m", "o_orderpriority")
    wh.append("m", other.withColumn("oy", ys))
    n0 = wh.read("m").count()
    src = wh.read("m").filter(F.col("o_orderkey") == probe).withColumn(
        "o_orderstatus", F.lit("Z")
    )
    wh.merge_into("m", src, on=["o_orderkey"])
    after = wh.read("m")
    hit = after.filter(F.col("o_orderkey") == probe)
    assert hit.count() == 1  # the duplication bug doubled this
    assert hit.first()["o_orderstatus"] == "Z"
    assert after.count() == n0

    # transform evolution variant
    wh.create_or_replace("t", half, partition_by="days(o_orderdate)")
    wh.evolve_partition_spec("t", "months(o_orderdate)")
    wh.append("t", other)
    n1 = wh.read("t").count()
    src2 = wh.read("t").filter(F.col("o_orderkey") == probe).withColumn(
        "o_orderstatus", F.lit("Q")
    )
    wh.merge_into("t", src2, on=["o_orderkey"])
    a2 = wh.read("t")
    assert a2.filter(F.col("o_orderkey") == probe).count() == 1
    assert a2.count() == n1


def _rows(df) -> list[tuple]:
    return sorted((tuple(r) for r in df.collect()), key=repr)


def test_drop_then_readd_reads_null_over_old_files(spark, wh):
    """A dropped-then-re-added column binds a FRESH field id: files written
    before the drop hold the old column's values under the same name, and
    every read path must show NULL for them, never the dropped values."""
    wh.create_or_replace(
        "t", spark.createDataFrame([(1, 10), (2, 20)], "id bigint, x int")
    )                                                          # snap 1
    wh.append("t", spark.createDataFrame([(4, 40)], "id bigint, x int"))  # 2
    wh.drop_column("t", "x")                                   # snap 3
    wh.add_column("t", "x", "int")                             # snap 4
    wh.append("t", spark.createDataFrame([(3, 99)], "id bigint, x int"))  # 5
    want = [(1, None), (2, None), (3, 99), (4, None)]
    assert _rows(wh.read("t")) == want
    assert _rows(wh.read("t", snapshot_id=5)) == want
    assert _rows(wh.read("t", snapshot_id=4)) == [(1, None), (2, None), (4, None)]
    # the snapshot before the drop still reads its own values
    assert _rows(wh.read("t", snapshot_id=2)) == [(1, 10), (2, 20), (4, 40)]
    # the incremental window (1 -> 5] holds one pre-drop file
    assert _rows(wh.read_incremental("t", from_snapshot_id=1)) == [(3, 99), (4, None)]


def test_rename_then_readd_reads_null_over_old_files(spark, wh):
    """Renaming x -> y moves x's field id to y; a later add of x is a new
    column: y keeps the old values, x is NULL over every earlier file."""
    wh.create_or_replace(
        "t", spark.createDataFrame([(1, 10), (2, 20)], "id bigint, x int")
    )                                                          # snap 1
    wh.append("t", spark.createDataFrame([(4, 40)], "id bigint, x int"))  # 2
    wh.rename_column("t", "x", "y")                            # snap 3
    wh.add_column("t", "x", "int")                             # snap 4
    wh.append(
        "t", spark.createDataFrame([(3, 30, 99)], "id bigint, y int, x int")
    )                                                          # snap 5
    want = [(1, 10, None), (2, 20, None), (3, 30, 99), (4, 40, None)]
    assert wh.read("t").columns == ["id", "y", "x"]
    assert _rows(wh.read("t")) == want
    assert _rows(wh.read("t", snapshot_id=5)) == want
    assert _rows(wh.read_incremental("t", from_snapshot_id=1)) == [
        (3, 30, 99), (4, 40, None)
    ]


@pytest.mark.parametrize(
    "case", ["swap", "drop_rename", "partition_readd", "bucket_source_rename"]
)
def test_pruned_read_binds_by_field_id(spark, wh, case):
    """A pruned read equals the unpruned one after evolution moves a name
    onto another field id: each file's stats and partition values bind
    through the ids it was written under, never by the name. ``swap``
    exchanges two columns by renames, ``drop_rename`` drops ``a`` and
    renames ``b`` to it, ``partition_readd`` drops and re-adds a column
    the files were partitioned by, and ``bucket_source_rename`` moves a
    bucket spec's source name onto another column (the files' bucket
    values were derived from the old one)."""
    if case == "bucket_source_rename":
        wh.create_or_replace(
            "t", spark.createDataFrame([(1, 3, 100)], "id bigint, a int, b int"),
            partition_by="bucket(4, a)",
        )
        wh.rename_column("t", "a", "c")  # the spec follows: bucket(4, c)
        wh.rename_column("t", "b", "a")
        wh.evolve_partition_spec("t", "bucket(4, a)")
        preds = {"a = 100": [1], "c = 3": [1], "a = 3": []}
    elif case == "partition_readd":
        wh.create_or_replace(
            "t", spark.createDataFrame([(1, 5), (2, 6)], "id bigint, p int"),
            partition_by="p",
        )
        wh.evolve_partition_spec("t", None)
        wh.drop_column("t", "p")
        wh.add_column("t", "p", "int")
        preds = {"p IS NULL": [1, 2], "p = 5": []}
    else:
        wh.create_or_replace(
            "t", spark.createDataFrame([(1, 7, 100)], "id bigint, a int, b int")
        )
        if case == "swap":
            for old, new in [("a", "tmp"), ("b", "a"), ("tmp", "b")]:
                wh.rename_column("t", old, new)
            preds = {"a = 100": [1], "b = 7": [1], "a = 7": []}
        else:
            wh.drop_column("t", "a")
            wh.rename_column("t", "b", "a")
            preds = {"a = 100": [1], "a = 7": []}
    for pred, ids in preds.items():
        assert sorted(r.id for r in wh.read("t").where(pred).collect()) == ids
        assert sorted(r.id for r in wh.read("t", where=pred).collect()) == ids


def test_rollback_across_rename_restores_old_values(spark, wh):
    """Rolling back past a rename restores the target's column identities:
    x binds its old files through its old field id again, on the rolled-back
    head, on later appends and by snapshot id."""
    wh.create_or_replace(
        "t", spark.createDataFrame([(1, 10), (2, 20)], "id bigint, x int")
    )                                                          # snap 1
    wh.rename_column("t", "x", "y")                            # snap 2
    wh.rollback_to("t", 1)                                     # snap 3
    assert _rows(wh.read("t")) == [(1, 10), (2, 20)]
    wh.append("t", spark.createDataFrame([(3, 30)], "id bigint, x int"))  # 4
    want = [(1, 10), (2, 20), (3, 30)]
    assert wh.read("t").columns == ["id", "x"]
    assert _rows(wh.read("t")) == want
    assert _rows(wh.read("t", snapshot_id=4)) == want
    assert _rows(wh.read("t", snapshot_id=2)) == [(1, 10), (2, 20)]


def test_append_retry_refuses_concurrent_rename(spark, wh, monkeypatch):
    """An append whose files were written before a concurrent rename must
    not retry onto the renamed schema: its dir names a snapshot id the
    rename took, so a read would bind the files through the rename's ids
    and show NULL for the batch. The conflict is raised instead, and a
    concurrent plain append still retries."""
    from apache_iceberg_demo_spark.sources.warehouse import CommitConflictError

    wh.create_or_replace(
        "t", spark.createDataFrame([(1, 10)], "id bigint, x int")
    )
    rival = Warehouse(spark, wh.root)
    real_write = Warehouse._write_data
    between = []

    def write_then_rival(self, *a, **k):
        files = real_write(self, *a, **k)
        if self is wh and between:
            between.pop()()
        return files

    monkeypatch.setattr(Warehouse, "_write_data", write_then_rival)
    between.append(lambda: rival.append(
        "t", spark.createDataFrame([(2, 20)], "id bigint, x int")))
    wh.append("t", spark.createDataFrame([(3, 30)], "id bigint, x int"))
    assert _rows(wh.read("t")) == [(1, 10), (2, 20), (3, 30)]

    between.append(lambda: rival.rename_column("t", "x", "y"))
    with pytest.raises(CommitConflictError):
        wh.append("t", spark.createDataFrame([(4, 40)], "id bigint, x int"))
    assert wh.read("t").columns == ["id", "y"]
    assert _rows(wh.read("t")) == [(1, 10), (2, 20), (3, 30)]


def _file_scans(df) -> int:
    plan = df._jdf.queryExecution().executedPlan().toString()
    return plan.count("FileScan parquet")


def test_native_read_is_one_file_scan(spark, wh):
    """A table without schema evolution reads through ONE parquet FileScan,
    however many commits wrote it and however many merge-on-read delete
    entries scope its files: partition values and delete scopes attach as
    per-file constants, not as one scan per commit directory."""
    def batch(lo: int, n: int = 8):
        return spark.createDataFrame(
            [(i, i % 4, i * 10) for i in range(lo, lo + n)],
            "id bigint, p int, v bigint",
        )

    wh.create_or_replace("t", batch(0), partition_by="p")
    model = {i: i * 10 for i in range(8)}
    for c in range(1, 12):
        if c == 5:
            wh.merge_into(
                "t", spark.createDataFrame([(1, 1, -1), (100, 0, 7)],
                                           "id bigint, p int, v bigint"),
                on=["id"],
            )
            model.update({1: -1, 100: 7})
        elif c in (7, 10):
            wh.delete_where_mor("t", f"id % 5 = {c % 5}")
            model = {k: v for k, v in model.items() if k % 5 != c % 5}
        else:
            wh.append("t", batch(c * 8))
            model.update({i: i * 10 for i in range(c * 8, c * 8 + 8)})
    assert len(wh._load_meta("t")["snapshots"]) == 12
    full, one = wh.read("t"), wh.read("t", where="p = 1")
    assert _file_scans(full) == 1 and _file_scans(one) == 1
    assert dict((r.id, r.v) for r in full.collect()) == model
    assert sorted(r.id for r in one.collect()) == sorted(
        k for k in model if k % 4 == 1
    )


def test_incremental_read_refuses_from_after_rewrite(spark, wh):
    """``from`` newer than ``to`` with a rewrite between them: the manifest
    diff would return every pre-rewrite row as "added". ``from`` is not an
    ancestor of ``to``, so the read raises."""
    li = _lineitem(spark).drop("ship_day")
    wh.create_or_replace("t", li.filter(F.col("l_linenumber") <= 3))  # 1
    wh.append("t", li.filter(F.col("l_linenumber") == 4))             # 2
    wh.rewrite_data_files("t", target_file_mb=1)                      # 3
    wh.append("t", li.filter(F.col("l_linenumber") == 5))             # 4
    with pytest.raises(ValueError, match="not an ancestor"):
        wh.read_incremental("t", from_snapshot_id=3, to_snapshot_id=2)
    assert wh.read_incremental("t", 3, to_snapshot_id=4).count() == li.filter(
        F.col("l_linenumber") == 5
    ).count()


def test_incremental_read_refuses_branch_snapshot(spark, wh):
    """A snapshot on another branch is not in ``to``'s ancestry, whichever
    side of the window it is on."""
    li = _lineitem(spark).select("l_orderkey", "l_linenumber")
    wh.create_or_replace("t", li.filter(F.col("l_linenumber") <= 2))  # 1
    wh.create_branch("t", "dev")
    wh.append("t", li.filter(F.col("l_linenumber") == 3))             # 2
    dev = wh.append_to_branch(
        "t", "dev", li.filter(F.col("l_linenumber") == 4)
    )["snapshot_id"]                                                  # 3
    for a, b in ((dev, 2), (2, dev)):
        with pytest.raises(ValueError, match="not an ancestor"):
            wh.read_incremental("t", from_snapshot_id=a, to_snapshot_id=b)
    assert wh.read_incremental("t", 1, to_snapshot_id=dev).count() == li.filter(
        F.col("l_linenumber") == 4
    ).count()


def test_row_level_op_keeps_mor_deletes_on_earlier_spec_files(spark, wh):
    """A copy-on-write DELETE on an evolved table rewrites the files written
    under the earlier spec; their rows re-enter through a scan that must
    apply the snapshot's merge-on-read deletes, or rows deleted before the
    rewrite come back."""
    wh.create_or_replace(
        "t", spark.createDataFrame([(1, "x"), (2, "x"), (3, "y")], "k int, cat string")
    )
    wh.evolve_partition_spec("t", "cat")
    wh.delete_where_mor("t", "k = 1")
    wh.delete_where("t", "cat = 'y'")
    assert _rows(wh.read("t")) == [(2, "x")]


def _broadcasts(df) -> int:
    return df._jdf.queryExecution().executedPlan().toString().count(
        "BroadcastExchange"
    )


def test_partitioned_read_needs_no_join(spark, wh):
    """Partition values come from each file's stored copy and a
    merge-on-read delete applies as a filter, so a partitioned table reads
    through one FileScan with no broadcast join at every step: before the
    delete, under a delete scoping every scanned file, and under one
    scoping only some of them (a filter on the scan's file key)."""
    def batch(lo: int, n: int = 8):
        return spark.createDataFrame(
            [(i, i % 4, i * 10) for i in range(lo, lo + n)],
            "id bigint, p int, v bigint",
        )

    def check() -> None:
        for k, df in [(None, wh.read("t")), (1, wh.read("t", where="p = 1"))]:
            assert _file_scans(df) == 1 and _broadcasts(df) == 0
            want = {i: v for i, v in model.items() if k is None or i % 4 == k}
            assert dict((r.id, r.v) for r in df.collect()) == want

    wh.create_or_replace("t", batch(0), partition_by="p")
    model = {i: i * 10 for i in range(8)}
    for c in (1, 2):
        wh.append("t", batch(c * 8))
        model.update({i: i * 10 for i in range(c * 8, c * 8 + 8)})
    check()
    wh.delete_where_mor("t", "id % 3 = 0")
    model = {i: v for i, v in model.items() if i % 3}
    check()
    wh.append("t", batch(24))
    model.update({i: i * 10 for i in range(24, 32)})
    check()
    # a where that prunes to the new files alone drops the delete
    df = wh.read("t", where="id >= 24")
    assert _file_scans(df) == 1 and _broadcasts(df) == 0
    assert sorted(r.id for r in df.collect()) == list(range(24, 32))


def test_partial_delete_scope_matches_special_char_paths(spark, tmp_path, wh):
    """A merge-on-read delete scoping only some files matches them by their
    ``_metadata.file_path``, which URI-quotes the hive-escaped partition
    dirs. A scope path that did not match would silently keep deleted rows;
    a filter that matched too much would drop rows appended after the
    delete. The native read, a pruned read and the v2 export's position
    deletes all agree with a row model."""
    from apache_iceberg_demo_spark.sources.iceberg_v2 import (
        export_iceberg_v2,
        read_iceberg_v2,
    )

    values = ["a b", "it's", "back\\slash", "50%", "x#y", "k=v", "é:ü",
              "''", "", None]

    def batch(lo: int):
        rows = [(i, values[i % len(values)], i * 10) for i in range(lo, lo + 20)]
        # '' and NULL share the hive default dir: both read back NULL
        model.update({i: (c or None, v) for i, c, v in rows})
        return spark.createDataFrame(rows, "id bigint, c string, v bigint")

    model = {}
    wh.create_or_replace("t", batch(0), partition_by="c")
    wh.delete_where_mor("t", "id % 3 = 0")
    model = {i: r for i, r in model.items() if i % 3}
    wh.append("t", batch(20))

    def rows(df) -> dict:
        return {r.id: (r.c, r.v) for r in df.collect()}

    df = wh.read("t")
    assert _file_scans(df) == 1 and _broadcasts(df) == 0
    assert rows(df) == model
    for w, keep in [
        ("c IS NOT NULL", lambda i, c: c is not None),
        ("id < 30", lambda i, c: i < 30),
    ]:
        df = wh.read("t", where=w)
        assert _broadcasts(df) == 0
        assert rows(df) == {i: r for i, r in model.items() if keep(i, r[0])}
    loc = export_iceberg_v2(wh, "t", str(tmp_path / "ice"))
    assert rows(read_iceberg_v2(spark, loc)) == model


def _copies_and_manifest(spark, wh, table: str, col: str) -> list:
    """Per data file: the distinct values of the partition column's stored
    copy, and the file's manifest partition value cast to the declared type
    (what a read attached before the copy existed)."""
    from apache_iceberg_demo_spark.sources.warehouse import _part_copy

    meta = wh._load_meta(table)
    snap = wh._snapshot(meta, meta["current_snapshot_id"])
    typ = wh._declared_schema(snap)[col].dataType.simpleString()
    out = []
    for f in snap["manifest"]:
        stored = spark.read.schema(f"`{_part_copy(col)}` {typ}").parquet(
            wh._abs_path(table, f["path"])
        ).collect()
        want = spark.createDataFrame(
            [(f["partition"][col],)], "v string"
        ).selectExpr(f"CAST(v AS {typ})").first()[0]
        out.append(({repr(r[0]) for r in stored}, repr(want)))
    return out


@pytest.mark.parametrize(
    "ddl, values",
    [
        # '' and NULL share the hive default dir: both store NULL
        ("string", ["", None, "a b", "x%y=z/#", "é:ü"]),
        ("double", [-0.0, 0.0, float("nan"), 1.5, None]),
        ("boolean", [True, False, None]),
        ("timestamp", ["2024-03-05 10:00:00.123456", "1969-12-31 23:59:59.5", None]),
    ],
)
def test_partition_copy_holds_the_manifest_value(spark, wh, ddl, values):
    """Each file's copy of its partition column holds exactly the value its
    manifest entry records, cast to the declared type: the native read,
    which binds the copy, returns what the manifest-constant read did."""
    rows = [(i, v) for i, v in enumerate(values)]
    src = spark.createDataFrame(rows, "k int, c string").selectExpr(
        "k", f"CAST(c AS {ddl}) AS c"
    ) if ddl == "timestamp" else spark.createDataFrame(rows, f"k int, c {ddl}")
    wh.create_or_replace("t", src, partition_by="c")
    want = {r.k: repr(None if r.c == "" else r.c) for r in src.collect()}
    pairs = _copies_and_manifest(spark, wh, "t", "c")
    assert {m for _, m in pairs} == set(want.values())
    for stored, manifest in pairs:
        assert stored == {manifest}
    assert {r.k: repr(r.c) for r in wh.read("t").collect()} == want
    # one file per partition dir: '' and NULL share a dir, and a writer
    meta = wh._load_meta("t")
    dirs = [
        os.path.dirname(f["path"])
        for f in wh._snapshot(meta, meta["current_snapshot_id"])["manifest"]
    ]
    assert len(dirs) == len(set(dirs)), sorted(dirs)


def test_partition_copy_binds_after_rename_and_spec_evolution(spark, tmp_path, wh):
    """Files written under an identity spec keep binding their copy by field
    id after the spec moves off the column and the column is renamed; the
    v2 export's name-mapping carries the copy's name too."""
    from apache_iceberg_demo_spark.sources.iceberg_v2 import (
        export_iceberg_v2,
        read_iceberg_v2,
    )

    def frame(rows):
        return spark.createDataFrame(rows, "id bigint, p int, v bigint")

    wh.create_or_replace("t", frame([(1, 0, 10), (2, 1, 20)]), partition_by="p")
    wh.append("t", frame([(3, 1, 30)]))
    wh.evolve_partition_spec("t", "bucket(2, id)")
    wh.append("t", frame([(4, 0, 40)]))
    want = [(1, 0, 10), (2, 1, 20), (3, 1, 30), (4, 0, 40)]
    assert _rows(wh.read("t").select("id", "p", "v")) == want
    wh.rename_column("t", "p", "q")
    wh.append(
        "t", spark.createDataFrame([(5, 1, 50)], "id bigint, q int, v bigint")
    )
    want.append((5, 1, 50))
    assert _rows(wh.read("t").select("id", "q", "v")) == want
    assert sorted(r.id for r in wh.read("t", where="q = 1").collect()) == [2, 3, 5]
    wh.delete_where_mor("t", "q = 0")
    want = [r for r in want if r[1] != 0]
    assert _rows(wh.read("t").select("id", "q", "v")) == want
    loc = export_iceberg_v2(wh, "t", str(tmp_path / "ice"))
    assert _rows(read_iceberg_v2(spark, loc).select("id", "q", "v")) == want
