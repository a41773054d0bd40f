"""Iceberg-v2 interop conformance tests.

Three layers of proof, strongest available offline:
1. The hand-written Avro OCF bytes are read back by the JVM's REFERENCE
   Avro implementation (avro-1.12.1.jar bundled with Spark, driven over
   py4j) and compared value-by-value — an independent implementation, not
   our own reader checking our own writer.
2. The metadata JSON layout is pinned against the public Iceberg v2 table
   spec (required keys, field-id assignments, snapshot-log shape).
3. The spec-path reader (version-hint → metadata.json → Avro manifest
   list → Avro manifests → parquet) must reproduce the bespoke warehouse
   reader's rows exactly, including time travel.

The end-to-end foreign-ENGINE read (DuckDB iceberg_scan, as in
/root/reference/README.md:52-53) is environment-blocked: the container is
offline and `INSTALL iceberg` fails with an extension-download
IOException (verified round 10); no iceberg-spark-runtime jar ships
either. These tests are the conformance evidence in its place.
"""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from apache_iceberg_demo_spark.sources.avro_ocf import read_ocf, write_ocf
from apache_iceberg_demo_spark.sources.iceberg_v2 import (
    MANIFEST_FILE_SCHEMA,
    bound_value,
    export_iceberg_v2,
    read_iceberg_v2,
    _from_uri,
)
from apache_iceberg_demo_spark.sources.warehouse import Warehouse

SF = "/root/testdata/sf0.001"


# ---------------------------------------------------------------- avro ocf


def test_ocf_roundtrip_all_types(tmp_path):
    schema = {
        "type": "record",
        "name": "t",
        "fields": [
            {"name": "l", "type": "long"},
            {"name": "i", "type": "int"},
            {"name": "s", "type": ["null", "string"], "default": None},
            {"name": "b", "type": "bytes"},
            {"name": "d", "type": "double"},
            {"name": "f", "type": "float"},
            {"name": "bool", "type": ["null", "boolean"], "default": None},
            {"name": "arr", "type": {"type": "array", "items": "long"}},
            {"name": "m", "type": {"type": "map", "values": "string"}},
        ],
    }
    recs = [
        {
            "l": -(2**62),
            "i": -1,
            "s": "héllo wörld",
            "b": b"\x00\xff\x01",
            "d": 3.141592653589793,
            "f": 0.5,
            "bool": True,
            "arr": [1, -2, 3],
            "m": {"k1": "v1", "k2": "v2"},
        },
        {
            "l": 2**62,
            "i": 0,
            "s": None,
            "b": b"",
            "d": -0.0,
            "f": -1.5,
            "bool": None,
            "arr": [],
            "m": {},
        },
    ]
    for codec in ("null", "deflate"):
        path = str(tmp_path / f"t_{codec}.avro")
        n = write_ocf(path, schema, recs, metadata={"x": "y"}, codec=codec)
        assert n == os.path.getsize(path)
        got_schema, got_meta, got = read_ocf(path)
        assert got == recs
        assert got_meta["x"] == "y"
        assert got_schema["name"] == "t"


def test_ocf_detects_corruption(tmp_path):
    path = str(tmp_path / "c.avro")
    schema = {
        "type": "record",
        "name": "t",
        "fields": [{"name": "a", "type": "long"}],
    }
    write_ocf(path, schema, [{"a": 1}, {"a": 2}])
    data = bytearray(open(path, "rb").read())
    data[-1] ^= 0xFF  # flip a sync-marker byte
    open(path, "wb").write(bytes(data))
    with pytest.raises(ValueError, match="sync marker"):
        read_ocf(path)


# ---------------------------------------------------------------- fixtures


@pytest.fixture(scope="module")
def exported(spark, tmp_path_factory):
    """A 2-snapshot partitioned warehouse table + its Iceberg v2 export."""
    root = str(tmp_path_factory.mktemp("wh"))
    wh = Warehouse(spark, root)
    from apache_iceberg_demo_spark.io import load

    li = load(spark, SF, "lineitem").filter(F.col("l_orderkey") % 10 == 0)
    wh.create_or_replace(
        "li", li.filter(F.col("l_linenumber") <= 3), partition_by="l_linenumber"
    )
    wh.append("li", li.filter(F.col("l_linenumber") > 3))
    location = export_iceberg_v2(wh, "li")
    return wh, "li", location


def _load_meta(location):
    mdir = os.path.join(location, "metadata")
    with open(os.path.join(mdir, "version-hint.text")) as f:
        v = int(f.read().strip())
    with open(os.path.join(mdir, f"v{v}.metadata.json")) as f:
        return json.load(f)


# ------------------------------------------------- JVM avro cross-validation


def test_jvm_reference_avro_reads_manifest_list(spark, exported):
    """The reference Java Avro implementation must parse our manifest-list
    bytes and see identical values — independent-implementation proof."""
    _, _, location = exported
    meta = _load_meta(location)
    snap = meta["snapshots"][-1]
    path = _from_uri(snap["manifest-list"])
    ours_schema, _, ours = read_ocf(path)
    assert ours_schema["name"] == "manifest_file"

    jvm = spark._jvm
    dfr = jvm.org.apache.avro.file.DataFileReader(
        jvm.java.io.File(path), jvm.org.apache.avro.generic.GenericDatumReader()
    )
    assert dfr.getSchema().getName() == "manifest_file"
    # the embedded writer schema must carry the spec's field-ids
    jschema = json.loads(dfr.getSchema().toString())
    by_name = {f["name"]: f for f in jschema["fields"]}
    assert by_name["manifest_path"]["field-id"] == 500
    assert by_name["sequence_number"]["field-id"] == 515
    theirs = []
    while dfr.hasNext():
        rec = dfr.next()
        theirs.append(
            {
                k: (str(rec.get(k)) if rec.get(k) is not None else None)
                for k in (
                    "manifest_path",
                    "manifest_length",
                    "partition_spec_id",
                    "content",
                    "sequence_number",
                    "added_snapshot_id",
                    "added_files_count",
                    "existing_files_count",
                    "added_rows_count",
                    "existing_rows_count",
                )
            }
        )
    dfr.close()
    assert len(theirs) == len(ours)
    for o, t in zip(ours, theirs):
        for k, v in t.items():
            assert v == (str(o[k]) if o[k] is not None else None), k


def test_jvm_reference_avro_reads_manifest_entries(spark, exported):
    _, _, location = exported
    meta = _load_meta(location)
    snap = meta["snapshots"][-1]
    _, _, mfs = read_ocf(_from_uri(snap["manifest-list"]))
    mpath = _from_uri(mfs[0]["manifest_path"])
    _, mmeta, ours = read_ocf(mpath)
    assert mmeta["format-version"] == "2"
    assert mmeta["content"] == "data"

    jvm = spark._jvm
    dfr = jvm.org.apache.avro.file.DataFileReader(
        jvm.java.io.File(mpath), jvm.org.apache.avro.generic.GenericDatumReader()
    )
    assert dfr.getSchema().getName() == "manifest_entry"
    assert dfr.getMetaString("format-version") == "2"
    theirs = []
    while dfr.hasNext():
        rec = dfr.next()
        data_file = rec.get("data_file")
        theirs.append(
            (
                rec.get("status"),
                rec.get("sequence_number"),
                str(data_file.get("file_path")),
                str(data_file.get("file_format")),
                data_file.get("record_count"),
                data_file.get("file_size_in_bytes"),
                str(data_file.get("partition").get("l_linenumber")),
            )
        )
    dfr.close()
    assert len(theirs) == len(ours) > 0
    for o, t in zip(ours, theirs):
        d = o["data_file"]
        assert t == (
            o["status"],
            o["sequence_number"],
            d["file_path"],
            d["file_format"],
            d["record_count"],
            d["file_size_in_bytes"],
            str(d["partition"]["l_linenumber"]),
        )


# ------------------------------------------------- metadata.json conformance


def test_metadata_json_v2_layout(exported):
    wh, name, location = exported
    meta = _load_meta(location)
    # required v2 top-level fields (public spec, "Table Metadata Fields")
    for key in (
        "format-version",
        "table-uuid",
        "location",
        "last-sequence-number",
        "last-updated-ms",
        "last-column-id",
        "schemas",
        "current-schema-id",
        "partition-specs",
        "default-spec-id",
        "last-partition-id",
        "sort-orders",
        "default-sort-order-id",
        "current-snapshot-id",
        "snapshots",
        "snapshot-log",
        "refs",
    ):
        assert key in meta, key
    assert meta["format-version"] == 2
    # schemas carry stable per-column field ids
    cur_schema = next(
        s for s in meta["schemas"] if s["schema-id"] == meta["current-schema-id"]
    )
    ids = [f["id"] for f in cur_schema["fields"]]
    assert len(ids) == len(set(ids)) and min(ids) >= 1
    assert meta["last-column-id"] == max(
        f["id"] for s in meta["schemas"] for f in s["fields"]
    )
    # partition spec: identity on l_linenumber, field-id in the 1000+ range
    spec = next(
        s for s in meta["partition-specs"] if s["spec-id"] == meta["default-spec-id"]
    )
    (pf,) = spec["fields"]
    assert pf["transform"] == "identity"
    assert pf["field-id"] == 1000
    src = next(f for f in cur_schema["fields"] if f["id"] == pf["source-id"])
    assert src["name"] == "l_linenumber"
    # snapshots: sequence numbers strictly increase; log matches
    seqs = [s["sequence-number"] for s in meta["snapshots"]]
    assert seqs == sorted(seqs) and len(set(seqs)) == len(seqs)
    assert meta["last-sequence-number"] == seqs[-1]
    assert [e["snapshot-id"] for e in meta["snapshot-log"]] == [
        s["snapshot-id"] for s in meta["snapshots"]
    ]
    assert meta["refs"]["main"] == {
        "snapshot-id": meta["current-snapshot-id"],
        "type": "branch",
    }
    # fast-append commit shape: the append snapshot RE-LISTS the create
    # snapshot's manifest unchanged (its files stay ADDED at sequence 1)
    # and adds ONE new manifest carrying only the appended files
    last = meta["snapshots"][-1]
    _, _, mfs = read_ocf(_from_uri(last["manifest-list"]))
    data_mfs = [m for m in mfs if m["content"] == 0]
    assert len(data_mfs) == 2
    assert [m["sequence_number"] for m in data_mfs] == [1, last["sequence-number"]]
    assert all(m["added_files_count"] > 0 for m in data_mfs)
    assert all(m["existing_files_count"] == 0 for m in data_mfs)
    first_list = meta["snapshots"][0]
    _, _, mfs0 = read_ocf(_from_uri(first_list["manifest-list"]))
    # the inherited manifest is the SAME file, byte-identical
    assert data_mfs[0]["manifest_path"] == mfs0[0]["manifest_path"]
    assert data_mfs[0]["added_snapshot_id"] == first_list["snapshot-id"]


def test_fast_append_filter_rewrite_on_compaction(spark, tmp_path):
    """A snapshot that REMOVES files (compaction) must filter-rewrite only
    the touched manifests: the current manifest list never references a
    removed file, row accounting stays exact, time travel to the
    pre-compaction snapshot still lists the originals, and deep
    validation passes the whole chain."""
    from apache_iceberg_demo_spark.io import load

    mod = _load_validator()
    wh = Warehouse(spark, str(tmp_path / "wh"))
    li = load(spark, SF, "lineitem").filter(F.col("l_orderkey") % 10 == 0)
    wh.create_or_replace("t", li.filter("l_linenumber = 1"))
    wh.append("t", li.filter("l_linenumber = 2"))
    wh.rewrite_data_files("t")  # compaction: removes small files, adds one
    loc = export_iceberg_v2(wh, "t", str(tmp_path / "ice"))
    assert mod.validate(loc, deep=True) == []

    meta = _load_meta(loc)
    snaps = meta["snapshots"]
    assert len(snaps) == 3
    assert snaps[-1]["summary"]["operation"] in ("replace", "overwrite")
    assert int(snaps[-1]["summary"].get("deleted-data-files", "0")) > 0
    # compaction replaced every pre-existing file: deleted-records == all
    assert int(snaps[-1]["summary"]["deleted-records"]) == li.filter(
        "l_linenumber <= 2"
    ).count()

    def data_files(snapshot):
        _, _, mfs = read_ocf(_from_uri(snapshot["manifest-list"]))
        out = []
        for m in mfs:
            if m["content"] != 0:
                continue
            _, _, es = read_ocf(_from_uri(m["manifest_path"]))
            out.extend(
                e["data_file"]["file_path"] for e in es if e["status"] != 2
            )
        return out

    pre = set(data_files(snaps[1]))
    post = set(data_files(snaps[2]))
    assert pre and post and post != pre
    # no pre-compaction file survives LIVE in the compacted snapshot's list
    live = {f["path"] for f in wh._load_meta("t")["snapshots"][-1]["manifest"]}
    assert len(post) == len(live)
    # both vintages read correctly through the spec path
    n_all = li.filter("l_linenumber <= 2").count()
    assert read_iceberg_v2(spark, loc).count() == n_all
    assert (
        read_iceberg_v2(
            spark, loc, snapshot_id=snaps[1]["snapshot-id"]
        ).count() == n_all
    )


def test_deleted_entries_recorded_then_dropped(spark, tmp_path):
    """The snapshot that removes files must record them as status-2
    DELETED entries in the rewritten manifest (what incremental/CDC
    consumers read), with deleted_files/rows counts in its list entry; a
    LATER snapshot re-lists without them once the manifest is empty."""
    from apache_iceberg_demo_spark.io import load

    wh = Warehouse(spark, str(tmp_path / "wh"))
    li = load(spark, SF, "lineitem").filter(F.col("l_orderkey") % 10 == 0)
    wh.create_or_replace("t", li.filter("l_linenumber = 1"))
    wh.append("t", li.filter("l_linenumber = 2"))
    wh.rewrite_data_files("t")  # removes every pre-compaction file
    wh.append("t", li.filter("l_linenumber = 3"))
    loc = export_iceberg_v2(wh, "t", str(tmp_path / "ice"))
    meta = _load_meta(loc)
    snaps = meta["snapshots"]
    compact = snaps[2]

    _, _, mfs = read_ocf(_from_uri(compact["manifest-list"]))
    rewritten = [
        m for m in mfs if m["content"] == 0 and m["deleted_files_count"] > 0
    ]
    assert rewritten, "compaction snapshot records no DELETED entries"
    statuses = []
    for m in rewritten:
        _, _, es = read_ocf(_from_uri(m["manifest_path"]))
        statuses.extend(e["status"] for e in es)
        assert all(
            e["snapshot_id"] == compact["snapshot-id"]
            for e in es
            if e["status"] == 2
        )
        # entry sequence numbers stay the ORIGINAL data sequences
        assert all(
            e["sequence_number"] < compact["sequence-number"]
            for e in es
            if e["status"] == 2
        )
    assert 2 in statuses
    # the deleting snapshot still reads correctly (status-2 skipped)
    n_12 = li.filter("l_linenumber <= 2").count()
    assert (
        read_iceberg_v2(
            spark, loc, snapshot_id=compact["snapshot-id"]
        ).count() == n_12
    )
    # the NEXT snapshot's list has dropped the emptied manifests
    _, _, mfs3 = read_ocf(_from_uri(snaps[3]["manifest-list"]))
    assert all(
        m["deleted_files_count"] == 0 for m in mfs3 if m["content"] == 0
    )
    assert read_iceberg_v2(spark, loc).count() == li.filter(
        "l_linenumber <= 3"
    ).count()
    mod = _load_validator()
    assert mod.validate(loc, deep=True) == []


def test_version_hint_fallback(spark, tmp_path):
    """The version hint is OPTIONAL (a crashed writer may never land it):
    reader and validator must fall back to the highest vN.metadata.json,
    exactly HadoopTableOperations' discovery."""
    from apache_iceberg_demo_spark.io import load

    wh = Warehouse(spark, str(tmp_path / "wh"))
    li = load(spark, SF, "lineitem").filter(F.col("l_orderkey") % 10 == 0)
    wh.create_or_replace("t", li.filter("l_linenumber = 1"))
    loc = export_iceberg_v2(wh, "t", str(tmp_path / "ice"))
    n = read_iceberg_v2(spark, loc).count()
    os.remove(os.path.join(loc, "metadata", "version-hint.text"))
    assert read_iceberg_v2(spark, loc).count() == n
    mod = _load_validator()
    assert mod.validate(loc, deep=True) == []


def test_jvm_reference_avro_reads_rewritten_manifest(spark, tmp_path):
    """Bidirectional conformance for the filter-rewrite shape: the JVM's
    REFERENCE Avro implementation must parse a rewritten manifest carrying
    both EXISTING and DELETED entries and agree value-by-value on status,
    snapshot ids, and sequence numbers."""
    from apache_iceberg_demo_spark.io import load

    wh = Warehouse(spark, str(tmp_path / "wh"))
    li = load(spark, SF, "lineitem").filter(F.col("l_orderkey") % 10 == 0)
    wh.create_or_replace("t", li.filter("l_linenumber = 1"))
    wh.append("t", li.filter("l_linenumber = 2"))
    wh.rewrite_data_files("t")
    loc = export_iceberg_v2(wh, "t", str(tmp_path / "ice"))
    meta = _load_meta(loc)
    compact = meta["snapshots"][2]
    _, _, mfs = read_ocf(_from_uri(compact["manifest-list"]))
    rewritten = next(
        m for m in mfs if m["content"] == 0 and m["deleted_files_count"] > 0
    )
    path = _from_uri(rewritten["manifest_path"])
    _, _, ours = read_ocf(path)
    assert {e["status"] for e in ours} >= {2}

    jvm = spark._jvm
    dfr = jvm.org.apache.avro.file.DataFileReader(
        jvm.java.io.File(path), jvm.org.apache.avro.generic.GenericDatumReader()
    )
    theirs = []
    while dfr.hasNext():
        rec = dfr.next()
        theirs.append(
            (
                int(str(rec.get("status"))),
                int(str(rec.get("snapshot_id"))),
                int(str(rec.get("sequence_number"))),
                str(rec.get("data_file").get("file_path")),
            )
        )
    dfr.close()
    assert theirs == [
        (
            e["status"],
            e["snapshot_id"],
            e["sequence_number"],
            e["data_file"]["file_path"],
        )
        for e in ours
    ]
    # DELETED entries carry the deleting snapshot, original sequences
    for st, sid, seq, _ in theirs:
        if st == 2:
            assert sid == compact["snapshot-id"]
            assert seq < compact["sequence-number"]


def test_incremental_append_scan(spark, tmp_path):
    """read_iceberg_v2_changes returns exactly the rows appended in
    (from, to], reads only the in-range manifests, and refuses a range
    containing a non-append snapshot."""
    from apache_iceberg_demo_spark.io import load
    from apache_iceberg_demo_spark.sources.iceberg_v2 import (
        read_iceberg_v2_changes,
    )

    wh = Warehouse(spark, str(tmp_path / "wh"))
    li = load(spark, SF, "lineitem").filter(F.col("l_orderkey") % 10 == 0)
    wh.create_or_replace("t", li.filter("l_linenumber = 1"))
    wh.append("t", li.filter("l_linenumber = 2"))
    wh.append("t", li.filter("l_linenumber = 3"))
    loc = export_iceberg_v2(wh, "t", str(tmp_path / "ice"))
    meta = _load_meta(loc)
    s1, s2, s3 = [s["snapshot-id"] for s in meta["snapshots"]]

    got = read_iceberg_v2_changes(spark, loc, from_snapshot_id=s1)
    assert got.count() == li.filter("l_linenumber IN (2, 3)").count()
    assert set(
        r["l_linenumber"] for r in got.select("l_linenumber").distinct().collect()
    ) == {2, 3}
    one = read_iceberg_v2_changes(
        spark, loc, from_snapshot_id=s1, to_snapshot_id=s2
    )
    assert one.count() == li.filter("l_linenumber = 2").count()
    # empty range and where-composition
    assert read_iceberg_v2_changes(
        spark, loc, from_snapshot_id=s3
    ).count() == 0
    filtered = read_iceberg_v2_changes(
        spark, loc, from_snapshot_id=s1, where="l_quantity >= 25"
    )
    assert filtered.count() == li.filter(
        "l_linenumber IN (2, 3) AND l_quantity >= 25"
    ).count()

    # a compaction inside the range must refuse
    wh.rewrite_data_files("t")
    loc2 = export_iceberg_v2(wh, "t", str(tmp_path / "ice2"))
    meta2 = _load_meta(loc2)
    with pytest.raises(ValueError, match="append-only"):
        read_iceberg_v2_changes(
            spark, loc2, from_snapshot_id=meta2["snapshots"][0]["snapshot-id"]
        )
    # non-ancestor from
    with pytest.raises((ValueError, KeyError)):
        read_iceberg_v2_changes(spark, loc, from_snapshot_id=99999)


def test_change_feed_at_least_once(spark, tmp_path):
    """Durable-cursor consumption across re-exports: initial load, then
    per-commit deltas; a crash between read and advance REPLAYS the same
    delta (at-least-once, never skipping); caught-up polls are empty."""
    from apache_iceberg_demo_spark.io import load
    from apache_iceberg_demo_spark.sources.iceberg_v2 import (
        advance_change_feed,
        iceberg_v2_change_feed,
    )

    wh = Warehouse(spark, str(tmp_path / "wh"))
    li = load(spark, SF, "lineitem").filter(F.col("l_orderkey") % 10 == 0)
    ice = str(tmp_path / "ice")
    cursor = str(tmp_path / "cursor.json")

    wh.create_or_replace("t", li.filter("l_linenumber = 1"))
    export_iceberg_v2(wh, "t", ice)
    df, sid = iceberg_v2_change_feed(spark, ice, cursor)
    assert df.count() == li.filter("l_linenumber = 1").count()  # initial load
    advance_change_feed(cursor, sid)

    # caught up: empty delta, same schema
    df0, sid0 = iceberg_v2_change_feed(spark, ice, cursor)
    assert sid0 == sid and df0.count() == 0
    assert df0.columns == df.columns

    wh.append("t", li.filter("l_linenumber = 2"))
    export_iceberg_v2(wh, "t", ice)  # re-export bumps vN.metadata.json
    df1, sid1 = iceberg_v2_change_feed(spark, ice, cursor)
    n2 = li.filter("l_linenumber = 2").count()
    assert sid1 != sid and df1.count() == n2
    # CRASH before advance: the next poll replays the SAME delta
    df1b, sid1b = iceberg_v2_change_feed(spark, ice, cursor)
    assert sid1b == sid1 and df1b.count() == n2
    advance_change_feed(cursor, sid1b)

    wh.append("t", li.filter("l_linenumber = 3"))
    export_iceberg_v2(wh, "t", ice)
    df2, sid2 = iceberg_v2_change_feed(spark, ice, cursor)
    assert df2.count() == li.filter("l_linenumber = 3").count()
    assert set(
        r["l_linenumber"]
        for r in df2.select("l_linenumber").distinct().collect()
    ) == {3}
    advance_change_feed(cursor, sid2)
    assert iceberg_v2_change_feed(spark, ice, cursor)[0].count() == 0


def test_change_feed_cursor_expired_recovery(spark, tmp_path):
    """Retention-safe cursor recovery (VERDICT r11 item 2): when
    expire_snapshots removes the snapshot a durable cursor points at, the
    poll raises the TYPED CursorExpiredError (a KeyError subclass, so
    pre-r12 catchers keep working) carrying the oldest snapshot still on
    current's ancestry; reset_change_feed() then resumes the feed as a
    full initial load — at-least-once preserved — and subsequent deltas
    flow normally."""
    from apache_iceberg_demo_spark.io import load
    from apache_iceberg_demo_spark.sources.iceberg_v2 import (
        CursorExpiredError,
        advance_change_feed,
        iceberg_v2_change_feed,
        reset_change_feed,
    )

    wh = Warehouse(spark, str(tmp_path / "wh"))
    li = load(spark, SF, "lineitem").filter(F.col("l_orderkey") % 10 == 0)
    ice = str(tmp_path / "ice")
    cursor = str(tmp_path / "cursor.json")

    wh.create_or_replace("t", li.filter("l_linenumber = 1"))
    export_iceberg_v2(wh, "t", ice)
    df, sid1 = iceberg_v2_change_feed(spark, ice, cursor)
    advance_change_feed(cursor, sid1)

    wh.append("t", li.filter("l_linenumber = 2"))
    wh.append("t", li.filter("l_linenumber = 3"))
    # retention runs past the cursor: s1 is expired, s2/s3 survive
    wh.expire_snapshots("t", keep_last=2, retain_refs=False)
    export_iceberg_v2(wh, "t", ice)
    meta = _load_meta(ice)
    surviving = [s["snapshot-id"] for s in meta["snapshots"]]
    assert sid1 not in surviving and len(surviving) == 2

    with pytest.raises(CursorExpiredError) as exc:
        iceberg_v2_change_feed(spark, ice, cursor)
    err = exc.value
    assert isinstance(err, KeyError)  # back-compat contract
    assert err.from_snapshot_id == sid1
    assert err.oldest_available == min(surviving)  # root of ancestry
    assert "reset_change_feed" in str(err)

    # documented recovery: reset → full initial load as of current
    reset_change_feed(cursor)
    reset_change_feed(cursor)  # idempotent
    full, sid3 = iceberg_v2_change_feed(spark, ice, cursor)
    assert full.count() == li.filter("l_linenumber IN (1, 2, 3)").count()
    assert sid3 == meta["current-snapshot-id"]
    advance_change_feed(cursor, sid3)

    # the feed then resumes incrementally
    wh.append("t", li.filter("l_linenumber = 4"))
    export_iceberg_v2(wh, "t", ice)
    delta, sid4 = iceberg_v2_change_feed(spark, ice, cursor)
    assert delta.count() == li.filter("l_linenumber = 4").count()

    # the gap-tolerant opt-in path also works: re-expire past the cursor,
    # advance to oldest_available, poll returns only the post-oldest rows
    wh.append("t", li.filter("l_linenumber = 5"))
    wh.expire_snapshots("t", keep_last=2, retain_refs=False)
    export_iceberg_v2(wh, "t", ice)
    with pytest.raises(CursorExpiredError) as exc2:
        iceberg_v2_change_feed(spark, ice, cursor)
    advance_change_feed(cursor, exc2.value.oldest_available)
    gap, _ = iceberg_v2_change_feed(spark, ice, cursor)
    assert gap.count() == li.filter("l_linenumber = 5").count()


def test_incremental_scan_ignores_pre_range_deletes(spark, tmp_path):
    """An MoR equality delete committed BEFORE the range must not suppress
    rows appended inside it: the appended files carry a HIGHER data
    sequence than the delete, so the spec's strictly-less rule exempts
    them — the incremental scan returns every appended row, including
    ones matching the old delete's key."""
    from apache_iceberg_demo_spark.io import load
    from apache_iceberg_demo_spark.sources.iceberg_v2 import (
        read_iceberg_v2_changes,
    )

    wh = Warehouse(spark, str(tmp_path / "wh"))
    li = load(spark, SF, "lineitem").filter(F.col("l_orderkey") % 10 == 0)
    wh.create_or_replace("t", li.filter("l_linenumber = 1"))
    wh.delete_where_mor("t", "l_quantity = 5")  # equality delete, pre-range
    wh.append("t", li.filter("l_linenumber = 2"))
    loc = export_iceberg_v2(wh, "t", str(tmp_path / "ice"))
    meta = _load_meta(loc)
    # delete commit is a metadata-only snapshot between create and append
    del_sid = meta["snapshots"][1]["snapshot-id"]
    got = read_iceberg_v2_changes(spark, loc, from_snapshot_id=del_sid)
    assert got.count() == li.filter("l_linenumber = 2").count()
    assert got.filter("l_quantity = 5").count() == li.filter(
        "l_linenumber = 2 AND l_quantity = 5"
    ).count() > 0


def test_standalone_metadata_validator_passes_exports(spark, exported, tmp_path):
    """VERDICT r10 item 4: a second consumer of the metadata.json layer —
    the standalone spec validator (written from the public spec rules, no
    exporter imports) must pass every export shape we produce, including
    deletes + spec evolution, in deep mode (manifest lengths + file
    existence verified against the filesystem)."""
    import importlib.util

    vpath = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "tools",
        "validate_iceberg_metadata.py",
    )
    sp = importlib.util.spec_from_file_location("validate_iceberg_metadata", vpath)
    mod = importlib.util.module_from_spec(sp)
    sp.loader.exec_module(mod)

    _, _, location = exported
    assert mod.validate(location, deep=True) == []

    # a richer table: both delete kinds + partition-spec evolution + a ref
    from apache_iceberg_demo_spark.io import load

    wh = Warehouse(spark, str(tmp_path / "wh"))
    li = load(spark, SF, "lineitem").filter(F.col("l_orderkey") % 10 == 0)
    year = F.date_format("l_shipdate", "yyyy")
    wh.create_or_replace(
        "t",
        li.filter("l_linenumber <= 2").withColumn("ship_year", year),
        partition_by="ship_year",
    )
    wh.evolve_partition_spec("t", "l_returnflag")
    wh.append("t", li.filter("l_linenumber > 2").withColumn("ship_year", year))
    wh.delete_where_mor("t", "l_linenumber = 1")
    wh.delete_where_mor("t", "l_quantity < 3")
    loc2 = export_iceberg_v2(wh, "t", str(tmp_path / "ice"))
    assert mod.validate(loc2, deep=True) == []

    # negative: tampered metadata must produce violations
    import shutil

    broken = str(tmp_path / "broken")
    shutil.copytree(loc2, broken)
    mdir = os.path.join(broken, "metadata")
    with open(os.path.join(mdir, "version-hint.text")) as f:
        ver = int(f.read().strip())
    mfile = os.path.join(mdir, f"v{ver}.metadata.json")
    with open(mfile) as f:
        m = json.load(f)
    m["partition-specs"][1]["fields"][0]["field-id"] = 1000  # collide ids
    m["current-snapshot-id"] = 999999  # dangling pointer
    del m["last-partition-id"]
    with open(mfile, "w") as f:
        json.dump(m, f)
    bad = mod.validate(broken)
    # the collided id binds TWO DIFFERENT fields — flagged; legitimate
    # reuse (same name/transform/source kept across a spec evolution,
    # Java's builder behavior) is NOT
    assert any("bound to two different fields" in b for b in bad)
    assert any("current-snapshot-id" in b for b in bad)
    assert any("last-partition-id" in b for b in bad)


def _load_validator():
    import importlib.util

    vpath = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "tools",
        "validate_iceberg_metadata.py",
    )
    sp = importlib.util.spec_from_file_location("validate_iceberg_metadata", vpath)
    mod = importlib.util.module_from_spec(sp)
    sp.loader.exec_module(mod)
    return mod


def test_validator_deep_catches_delete_file_tampering(spark, tmp_path):
    """Deep mode must verify the delete-format rules on the ACTUAL files,
    not trust the metadata: a manifest whose record_count disagrees with
    the parquet footer, and a position-delete parquet stripped of the
    reserved field ids, are both violations."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from apache_iceberg_demo_spark.io import load

    mod = _load_validator()
    wh = Warehouse(spark, str(tmp_path / "wh"))
    li = load(spark, SF, "lineitem").filter(F.col("l_orderkey") % 10 == 0)
    wh.create_or_replace("t", li.filter("l_linenumber <= 2"))
    wh.delete_where_mor("t", "l_quantity < 3")  # non-equality → positional
    loc = export_iceberg_v2(wh, "t", str(tmp_path / "ice"))
    assert mod.validate(loc, deep=True) == []

    # manifest/file paths inside the export are absolute URIs, so tamper
    # IN PLACE (this export exists only for this test)
    meta = _load_meta(loc)
    snap = next(
        s for s in meta["snapshots"]
        if s["snapshot-id"] == meta["current-snapshot-id"]
    )
    _, _, mfs = read_ocf(_from_uri(snap["manifest-list"]))

    # --- tamper 1: bump a data entry's record_count inside the manifest
    dm = next(m for m in mfs if m.get("content", 0) == 0)
    mp = _from_uri(dm["manifest_path"])
    schema, hdr, entries = read_ocf(mp)
    entries[0]["data_file"]["record_count"] += 1
    extra = {k: v for k, v in hdr.items() if not k.startswith("avro.")}
    write_ocf(mp, schema, entries, metadata=extra)
    bad = mod.validate(loc, deep=True)
    assert any("record_count" in b and "num_rows" in b for b in bad), bad

    # --- tamper 2: strip the reserved field ids off the pos-delete file
    delm = next(m for m in mfs if m.get("content", 0) == 1)
    _, _, dents = read_ocf(_from_uri(delm["manifest_path"]))
    pd_entry = next(e for e in dents if e["data_file"]["content"] == 1)
    pd_path = _from_uri(pd_entry["data_file"]["file_path"])
    tbl = pq.read_table(pd_path)
    naked = pa.schema(
        [pa.field("file_path", pa.string()), pa.field("pos", pa.int64())]
    )
    pq.write_table(tbl.cast(naked), pd_path)
    bad2 = mod.validate(loc, deep=True)
    assert any("field-id" in b and "reserved" in b for b in bad2), bad2


def test_column_metrics_exported_and_validated(spark, tmp_path):
    """Data-file entries must carry the spec's column metric maps
    (column_sizes fid 108 / value_counts 109 / null_value_counts 110)
    computed from the parquet footers — real engines use these for
    IS NULL pruning and scan costing. Planted NULLs must surface with
    exact counts; a tampered value_counts map must fail deep validation."""
    from apache_iceberg_demo_spark.io import load

    mod = _load_validator()
    wh = Warehouse(spark, str(tmp_path / "wh"))
    li = (
        load(spark, SF, "lineitem")
        .filter(F.col("l_orderkey") % 10 == 0)
        .withColumn(
            "maybe_flag",
            F.when(F.col("l_linenumber") == 1, None).otherwise(
                F.col("l_returnflag")
            ),
        )
    )
    n_null = li.filter("maybe_flag IS NULL").count()
    n_all = li.count()
    assert 0 < n_null < n_all
    wh.create_or_replace("t", li)
    loc = export_iceberg_v2(wh, "t", str(tmp_path / "ice"))
    assert mod.validate(loc, deep=True) == []

    meta = _load_meta(loc)
    schema = meta["schemas"][meta["current-schema-id"]]
    fid = next(
        f["id"] for f in schema["fields"] if f["name"] == "maybe_flag"
    )
    snap = next(
        s for s in meta["snapshots"]
        if s["snapshot-id"] == meta["current-snapshot-id"]
    )
    _, _, mfs = read_ocf(_from_uri(snap["manifest-list"]))
    total_nulls = 0
    total_vals: dict[int, int] = {}
    for mf in mfs:
        if mf.get("content", 0) != 0:
            continue
        _, _, entries = read_ocf(_from_uri(mf["manifest_path"]))
        for e in entries:
            d = e["data_file"]
            assert d["column_sizes"] and d["value_counts"], "metrics missing"
            vals = {r["key"]: r["value"] for r in d["value_counts"]}
            for k, nv in vals.items():
                assert nv == d["record_count"], (k, nv, d["record_count"])
            nulls = {r["key"]: r["value"] for r in (d["null_value_counts"] or [])}
            total_nulls += nulls.get(fid, 0)
            assert sum(
                r["value"] for r in d["column_sizes"]
            ) <= d["file_size_in_bytes"]
            offs = d["split_offsets"]
            assert offs and offs[0] == 4, offs  # first RG follows PAR1 magic
            assert offs == sorted(offs)
            assert all(4 <= o < d["file_size_in_bytes"] for o in offs)
    assert total_nulls == n_null

    # tamper: inflate one value_counts entry inside the manifest
    dm = next(m for m in mfs if m.get("content", 0) == 0)
    mp = _from_uri(dm["manifest_path"])
    schema_a, hdr, entries = read_ocf(mp)
    entries[0]["data_file"]["value_counts"][0]["value"] += 7
    extra = {k: v for k, v in hdr.items() if not k.startswith("avro.")}
    write_ocf(mp, schema_a, entries, metadata=extra)
    bad = mod.validate(loc, deep=True)
    assert any("value_counts" in b and "num_rows" in b for b in bad), bad


def test_spec_reader_as_of_timestamp(spark, tmp_path):
    """``as_of_ms`` resolves through the snapshot-log exactly like a real
    reader's as-of-timestamp option: last MAIN snapshot at-or-before the
    bound; before-history errors; mutually exclusive with snapshot_id/ref."""
    import time

    from apache_iceberg_demo_spark.io import load

    wh = Warehouse(spark, str(tmp_path / "wh"))
    li = load(spark, SF, "lineitem").filter(F.col("l_orderkey") % 10 == 0)
    first = li.filter("l_linenumber = 1")
    wh.create_or_replace("t", first)
    time.sleep(0.01)  # guarantee distinct timestamp-ms between snapshots
    wh.append("t", li.filter("l_linenumber = 2"))
    loc = export_iceberg_v2(wh, "t", str(tmp_path / "ice"))

    log = _load_meta(loc)["snapshot-log"]
    assert len(log) == 2 and log[0]["timestamp-ms"] < log[1]["timestamp-ms"]

    n_first = first.count()
    n_all = read_iceberg_v2(spark, loc).count()
    assert read_iceberg_v2(spark, loc, as_of_ms=log[0]["timestamp-ms"]).count() == n_first
    # between the two commits → still the first snapshot
    assert (
        read_iceberg_v2(
            spark, loc, as_of_ms=log[1]["timestamp-ms"] - 1
        ).count() == n_first
    )
    assert read_iceberg_v2(spark, loc, as_of_ms=log[1]["timestamp-ms"]).count() == n_all

    with pytest.raises(ValueError, match="no snapshot current as of"):
        read_iceberg_v2(spark, loc, as_of_ms=log[0]["timestamp-ms"] - 1)
    with pytest.raises(ValueError, match="at most one"):
        read_iceberg_v2(
            spark, loc,
            as_of_ms=log[1]["timestamp-ms"],
            snapshot_id=log[0]["snapshot-id"],
        )


def test_manifest_bounds_match_parquet_footers(exported):
    """lower/upper bounds use the spec's single-value binary serialization
    and must equal the parquet footer min/max they were derived from."""
    import pyarrow.parquet as pq

    wh, name, location = exported
    meta = _load_meta(location)
    cur_schema = next(
        s for s in meta["schemas"] if s["schema-id"] == meta["current-schema-id"]
    )
    types_by_id = {f["id"]: f["type"] for f in cur_schema["fields"]}
    names_by_id = {f["id"]: f["name"] for f in cur_schema["fields"]}
    snap = meta["snapshots"][-1]
    _, _, mfs = read_ocf(_from_uri(snap["manifest-list"]))
    _, _, entries = read_ocf(_from_uri(mfs[0]["manifest_path"]))
    checked = 0
    for e in entries[:5]:
        d = e["data_file"]
        md = pq.ParquetFile(_from_uri(d["file_path"])).metadata
        footer: dict[str, list] = {}
        for rg in range(md.num_row_groups):
            rgm = md.row_group(rg)
            for ci in range(rgm.num_columns):
                col = rgm.column(ci)
                st = col.statistics
                if st is None or not st.has_min_max:
                    continue
                mn, mx = st.min, st.max
                if isinstance(mn, bytes):
                    try:
                        mn, mx = mn.decode(), mx.decode()
                    except UnicodeDecodeError:
                        continue
                # same normalization the warehouse applies when collecting
                # stats: dates (and other non-scalar footer types) compare
                # in ISO-string space, which is how bound_value decodes them
                import datetime as _dt

                if isinstance(mn, _dt.date):
                    mn, mx = mn.isoformat(), mx.isoformat()
                prev = footer.get(col.path_in_schema)
                if prev:
                    footer[col.path_in_schema] = [min(prev[0], mn), max(prev[1], mx)]
                else:
                    footer[col.path_in_schema] = [mn, mx]
        lowers = {kv["key"]: kv["value"] for kv in (d["lower_bounds"] or [])}
        uppers = {kv["key"]: kv["value"] for kv in (d["upper_bounds"] or [])}
        assert lowers, "expected bounds on at least int/long/string columns"
        for fid, raw in lowers.items():
            t = types_by_id[fid]
            cname = names_by_id[fid]
            assert bound_value(t, raw) == footer[cname][0], cname
            assert bound_value(t, uppers[fid]) == footer[cname][1], cname
            checked += 1
    assert checked > 0


# ------------------------------------------------- spec-path reader


def test_spec_read_equals_bespoke_read(spark, exported):
    wh, name, location = exported
    spec_rows = sorted(
        read_iceberg_v2(spark, location)
        .select("l_orderkey", "l_linenumber", "l_quantity")
        .collect()
    )
    bespoke_rows = sorted(
        wh.read(name).select("l_orderkey", "l_linenumber", "l_quantity").collect()
    )
    assert spec_rows == bespoke_rows and len(spec_rows) > 0
    # typed partition binding: l_linenumber came from manifests as an int
    assert dict(read_iceberg_v2(spark, location).dtypes)["l_linenumber"] == "int"


def test_spec_read_time_travel(spark, exported):
    wh, name, location = exported
    meta = _load_meta(location)
    first = meta["snapshots"][0]["snapshot-id"]
    n_spec = read_iceberg_v2(spark, location, snapshot_id=first).count()
    n_bespoke = wh.read(name, snapshot_id=first).count()
    assert n_spec == n_bespoke > 0
    assert n_spec < read_iceberg_v2(spark, location).count()


def test_spec_read_pushes_filter_and_prunes_columns(spark, exported):
    _, _, location = exported
    df = read_iceberg_v2(spark, location, where="l_quantity > 40").select(
        "l_orderkey", "l_quantity"
    )
    plan = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )
    assert "PushedFilters: [" in plan
    assert "GreaterThan(l_quantity" in plan


def test_unpartitioned_roundtrip(spark, tmp_path):
    from apache_iceberg_demo_spark.io import load

    wh = Warehouse(spark, str(tmp_path / "wh"))
    n = load(spark, SF, "nation")
    wh.create_or_replace("nation_t", n)
    location = export_iceberg_v2(wh, "nation_t", str(tmp_path / "ice"))
    meta = _load_meta(location)
    spec = meta["partition-specs"][meta["default-spec-id"]]
    assert spec["fields"] == []
    got = sorted(read_iceberg_v2(spark, location).collect())
    assert got == sorted(n.collect())


def test_equality_delete_roundtrip_with_sequence_semantics(spark, tmp_path):
    """Unapplied MoR deletes export as v2 EQUALITY delete files. The spec's
    strictly-less sequence rule must scope them: rows appended AFTER the
    delete — even with matching key values — survive the spec-path read,
    exactly as the bespoke reader's file-path scoping keeps them."""
    from apache_iceberg_demo_spark.io import load

    wh = Warehouse(spark, str(tmp_path / "wh"))
    n = load(spark, SF, "nation")
    wh.create_or_replace("nt", n.filter(F.col("n_nationkey") < 20))
    wh.delete_where_mor("nt", "n_nationkey IN (3, 7)")
    # post-delete append re-introduces key 3 (fresh row, higher sequence)
    wh.append("nt", n.filter(F.col("n_nationkey").isin(3)).withColumn(
        "n_regionkey", F.lit(99)
    ))
    location = export_iceberg_v2(wh, "nt", str(tmp_path / "ice"))

    spec = read_iceberg_v2(spark, location)
    bespoke = wh.read("nt")
    assert sorted(map(tuple, spec.collect())) == sorted(
        map(tuple, bespoke.collect())
    )
    keys = [r.n_nationkey for r in spec.collect()]
    assert 7 not in keys  # deleted, never re-added
    assert keys.count(3) == 1  # original deleted, appended survivor kept
    # the delete rode along as a content=1 manifest with equality_ids
    meta = _load_meta(location)
    cur = next(
        s for s in meta["snapshots"] if s["snapshot-id"] == meta["current-snapshot-id"]
    )
    _, _, mfs = read_ocf(_from_uri(cur["manifest-list"]))
    dm = [m for m in mfs if m["content"] == 1]
    assert len(dm) == 1
    _, dmeta, dentries = read_ocf(_from_uri(dm[0]["manifest_path"]))
    assert dmeta["content"] == "deletes"
    assert dentries[0]["data_file"]["content"] == 2
    assert dentries[0]["data_file"]["equality_ids"] == [1]  # n_nationkey fid
    # delete sequence is strictly greater than the base files', strictly
    # less than the appended file's
    assert dm[0]["sequence_number"] == 2


def test_equality_predicate_parser_strictness():
    """ADVICE r10: compound predicates whose string literals open and close
    the text must NOT parse as bogus equality values; doubled-quote escapes
    unescape; conjunctions parse as multi-column tuples."""
    from apache_iceberg_demo_spark.sources.iceberg_v2 import (
        _parse_equality_predicate as p,
    )

    assert p("name = 'x' OR name = 'y'") is None  # the reported misparse
    assert p("a = 'it''s'") == (["a"], [("it's",)])
    assert p("a = 1 AND b IN ('p','q')") == (["a", "b"], [(1, "p"), (1, "q")])
    assert p("a = 'x,y'") == (["a"], [("x,y",)])  # comma inside literal
    assert p("a IN (1, 2) AND b = 2.5") == (["a", "b"], [(1, 2.5), (2, 2.5)])
    assert p("a < 3") is None
    assert p("a = 1 OR b = 2") is None
    assert p("a = 'x' AND a = 'y'") is None  # repeated column
    assert p("a = 'tail' extra") is None
    assert p("a = 'back\\\\slash'") is None  # backslash escapes rejected
    assert p("name IN ('x' OR name, 'y')") is None


def test_positional_delete_export_roundtrip(spark, tmp_path):
    """Non-equality MoR predicates export as v2 POSITION delete files
    (content=1, reserved field ids 2147483546/2147483545, sorted) instead
    of refusing; a post-delete append matching the predicate survives."""
    from apache_iceberg_demo_spark.io import load

    wh = Warehouse(spark, str(tmp_path / "wh"))
    r = load(spark, SF, "region")
    wh.create_or_replace("r", r)
    wh.delete_where_mor("r", "r_regionkey > 1")  # drops keys 2,3,4
    wh.append("r", r.filter(F.col("r_regionkey") == 3))  # re-adds 3
    location = export_iceberg_v2(wh, "r", str(tmp_path / "ice"))

    spec = read_iceberg_v2(spark, location)
    bespoke = wh.read("r")
    assert sorted(map(tuple, spec.collect())) == sorted(
        map(tuple, bespoke.collect())
    )
    keys = [row.r_regionkey for row in spec.collect()]
    assert keys.count(3) == 1 and 2 not in keys and 4 not in keys

    meta = _load_meta(location)
    cur = next(
        s
        for s in meta["snapshots"]
        if s["snapshot-id"] == meta["current-snapshot-id"]
    )
    _, _, mfs = read_ocf(_from_uri(cur["manifest-list"]))
    dm = [m for m in mfs if m["content"] == 1]
    assert len(dm) == 1
    _, dmeta, dentries = read_ocf(_from_uri(dm[0]["manifest_path"]))
    assert dmeta["content"] == "deletes"
    d = dentries[0]["data_file"]
    assert d["content"] == 1  # POSITION_DELETES
    assert d["equality_ids"] is None

    import pyarrow.parquet as pq

    tbl = pq.read_table(_from_uri(d["file_path"]))
    assert (
        tbl.schema.field("file_path").metadata[b"PARQUET:field_id"]
        == b"2147483546"
    )
    assert tbl.schema.field("pos").metadata[b"PARQUET:field_id"] == b"2147483545"
    pairs = list(
        zip(tbl.column("file_path").to_pylist(), tbl.column("pos").to_pylist())
    )
    assert pairs == sorted(pairs)
    assert d["record_count"] == len(pairs) == 3


def test_multi_column_equality_delete_export(spark, tmp_path):
    """``a = x AND b IN (...)`` conjunctions export as ONE equality-delete
    file carrying the full ``equality_ids`` list (multi-column tuples) —
    the r10 single-column refusal is gone."""
    from apache_iceberg_demo_spark.io import load

    wh = Warehouse(spark, str(tmp_path / "wh"))
    n = load(spark, SF, "nation")
    wh.create_or_replace("n", n)
    wh.delete_where_mor("n", "n_regionkey = 1 AND n_nationkey IN (6, 21)")
    # same keys appended after the delete must survive (sequence rule)
    wh.append("n", n.filter(F.col("n_nationkey") == 21))
    location = export_iceberg_v2(wh, "n", str(tmp_path / "ice"))

    spec = read_iceberg_v2(spark, location)
    bespoke = wh.read("n")
    assert sorted(map(tuple, spec.collect())) == sorted(
        map(tuple, bespoke.collect())
    )
    keys = [row.n_nationkey for row in spec.collect()]
    assert 6 not in keys and keys.count(21) == 1

    meta = _load_meta(location)
    cur = next(
        s
        for s in meta["snapshots"]
        if s["snapshot-id"] == meta["current-snapshot-id"]
    )
    _, _, mfs = read_ocf(_from_uri(cur["manifest-list"]))
    dm = [m for m in mfs if m["content"] == 1]
    _, _, dentries = read_ocf(_from_uri(dm[0]["manifest_path"]))
    d = dentries[0]["data_file"]
    assert d["content"] == 2  # EQUALITY_DELETES
    assert len(d["equality_ids"]) == 2  # n_regionkey + n_nationkey fids
    assert d["record_count"] == 2  # two key tuples

    import pyarrow.parquet as pq

    tbl = pq.read_table(_from_uri(d["file_path"]))
    assert tbl.column_names == ["n_regionkey", "n_nationkey"]
    assert sorted(tbl.column("n_nationkey").to_pylist()) == [6, 21]


def test_compound_or_predicate_exports_positional(spark, tmp_path):
    """ADVICE r10 attack case: ``name = 'x' OR name = 'y'`` previously
    misparsed as an equality on the bogus value ``x' OR name = 'y`` and
    exported a delete file that deleted NOTHING (silent row resurrection).
    It must now take the POSITION-delete path and match the bespoke read."""
    from apache_iceberg_demo_spark.io import load

    wh = Warehouse(spark, str(tmp_path / "wh"))
    n = load(spark, SF, "nation")
    wh.create_or_replace("n", n)
    wh.delete_where_mor("n", "n_name = 'NATION_3' OR n_name = 'NATION_7'")
    location = export_iceberg_v2(wh, "n", str(tmp_path / "ice"))

    spec = read_iceberg_v2(spark, location)
    assert sorted(map(tuple, spec.collect())) == sorted(
        map(tuple, wh.read("n").collect())
    )
    names = [row.n_name for row in spec.collect()]
    assert "NATION_3" not in names and "NATION_7" not in names
    assert len(names) == 23

    meta = _load_meta(location)
    cur = next(
        s
        for s in meta["snapshots"]
        if s["snapshot-id"] == meta["current-snapshot-id"]
    )
    _, _, mfs = read_ocf(_from_uri(cur["manifest-list"]))
    dm = [m for m in mfs if m["content"] == 1]
    _, _, dentries = read_ocf(_from_uri(dm[0]["manifest_path"]))
    assert dentries[0]["data_file"]["content"] == 1  # positional, not bogus eq


def test_equality_delete_binds_by_field_id_not_name(spark, tmp_path):
    """Iceberg readers bind delete-file columns by FIELD ID, not name (a
    column renamed after the delete leaves old spellings in the delete
    parquet). Rewrite the exported delete file under a different column
    name but the same field-id metadata — the spec read must not change."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from apache_iceberg_demo_spark.io import load

    wh = Warehouse(spark, str(tmp_path / "wh"))
    n = load(spark, SF, "nation")
    wh.create_or_replace("n", n)
    wh.delete_where_mor("n", "n_nationkey IN (4, 9)")
    location = export_iceberg_v2(wh, "n", str(tmp_path / "ice"))
    before = sorted(map(tuple, read_iceberg_v2(spark, location).collect()))
    assert len(before) == 23

    meta = _load_meta(location)
    cur = next(
        s
        for s in meta["snapshots"]
        if s["snapshot-id"] == meta["current-snapshot-id"]
    )
    _, _, mfs = read_ocf(_from_uri(cur["manifest-list"]))
    dm = [m for m in mfs if m["content"] == 1][0]
    _, _, dentries = read_ocf(_from_uri(dm["manifest_path"]))
    dfile = _from_uri(dentries[0]["data_file"]["file_path"])
    fid = dentries[0]["data_file"]["equality_ids"][0]
    tbl = pq.read_table(dfile)
    renamed = pa.Table.from_arrays(
        [tbl.column(0)],
        schema=pa.schema(
            [
                pa.field(
                    "old_spelling",
                    tbl.schema.field(0).type,
                    metadata={b"PARQUET:field_id": str(fid).encode()},
                )
            ]
        ),
    )
    pq.write_table(renamed, dfile)
    after = sorted(map(tuple, read_iceberg_v2(spark, location).collect()))
    assert after == before


def test_positional_delete_on_partition_column_predicate(spark, tmp_path):
    """The positional-delete writer must recover hive partition columns
    (basePath discovery) so a non-equality predicate over the PARTITION
    column computes the right positions; time travel to the pre-delete
    snapshot still sees every row."""
    from apache_iceberg_demo_spark.io import load

    wh = Warehouse(spark, str(tmp_path / "wh"))
    li = load(spark, SF, "lineitem").filter(F.col("l_orderkey") % 10 == 0)
    year = F.date_format("l_shipdate", "yyyy")
    wh.create_or_replace(
        "t", li.withColumn("ship_year", year), partition_by="ship_year"
    )
    pre = wh._load_meta("t")["current_snapshot_id"]
    wh.delete_where_mor("t", "ship_year >= '1996'")  # non-equality: >=
    location = export_iceberg_v2(wh, "t", str(tmp_path / "ice"))

    got = read_iceberg_v2(spark, location)
    bespoke = wh.read("t")
    assert sorted(map(tuple, got.select(*bespoke.columns).collect())) == sorted(
        map(tuple, bespoke.collect())
    )
    assert got.filter(F.col("ship_year") >= "1996").count() == 0
    assert got.count() > 0
    # the delete manifest entry is positional, not a misparse
    meta = _load_meta(location)
    cur = next(
        s
        for s in meta["snapshots"]
        if s["snapshot-id"] == meta["current-snapshot-id"]
    )
    _, _, mfs = read_ocf(_from_uri(cur["manifest-list"]))
    dm = [m for m in mfs if m["content"] == 1]
    _, _, dentries = read_ocf(_from_uri(dm[0]["manifest_path"]))
    assert dentries[0]["data_file"]["content"] == 1
    # time travel to the pre-delete snapshot: all rows, no delete applied
    pre_read = read_iceberg_v2(spark, location, snapshot_id=pre)
    assert pre_read.count() == wh.read("t", snapshot_id=pre).count()
    assert pre_read.filter(F.col("ship_year") >= "1996").count() > 0


def test_jvm_reference_avro_reads_delete_manifests(spark, tmp_path):
    """Both delete-file kinds' manifests must parse under the JVM's
    REFERENCE Avro implementation with identical values — the same
    independent-implementation proof the data manifests get."""
    from apache_iceberg_demo_spark.io import load

    wh = Warehouse(spark, str(tmp_path / "wh"))
    n = load(spark, SF, "nation")
    wh.create_or_replace("n", n)
    wh.delete_where_mor("n", "n_regionkey = 1 AND n_nationkey IN (6, 21)")
    wh.delete_where_mor("n", "n_nationkey > 22")  # positional
    location = export_iceberg_v2(wh, "n", str(tmp_path / "ice"))

    meta = _load_meta(location)
    cur = next(
        s
        for s in meta["snapshots"]
        if s["snapshot-id"] == meta["current-snapshot-id"]
    )
    _, _, mfs = read_ocf(_from_uri(cur["manifest-list"]))
    dms = [m for m in mfs if m["content"] == 1]
    assert len(dms) == 2
    jvm = spark._jvm
    seen_contents = []
    for dm in dms:
        mpath = _from_uri(dm["manifest_path"])
        _, _, ours = read_ocf(mpath)
        dfr = jvm.org.apache.avro.file.DataFileReader(
            jvm.java.io.File(mpath),
            jvm.org.apache.avro.generic.GenericDatumReader(),
        )
        assert dfr.getMetaString("content") == "deletes"
        theirs = []
        while dfr.hasNext():
            rec = dfr.next()
            d = rec.get("data_file")
            eq = d.get("equality_ids")
            theirs.append(
                (
                    rec.get("status"),
                    rec.get("sequence_number"),
                    str(d.get("file_path")),
                    d.get("content"),
                    d.get("record_count"),
                    None if eq is None else [int(x) for x in eq],
                )
            )
        dfr.close()
        assert len(theirs) == len(ours) == 1
        o, t = ours[0], theirs[0]
        od = o["data_file"]
        assert t == (
            o["status"],
            o["sequence_number"],
            od["file_path"],
            od["content"],
            od["record_count"],
            od["equality_ids"],
        )
        seen_contents.append(od["content"])
    assert sorted(seen_contents) == [1, 2]  # one positional, one equality

    # and the spec read still equals the bespoke read with both in force
    assert sorted(map(tuple, read_iceberg_v2(spark, location).collect())) == \
        sorted(map(tuple, wh.read("n").collect()))


def test_spec_evolution_export_unique_partition_field_ids(spark, tmp_path):
    """ADVICE r10: partition field ids must be unique across ALL specs in
    the table metadata (one monotonically increasing counter — Java
    Iceberg's lastAssignedPartitionId), and last-partition-id is the max
    assigned id, not 999 + per-spec field count."""
    from apache_iceberg_demo_spark.io import load

    wh = Warehouse(spark, str(tmp_path / "wh"))
    li = load(spark, SF, "lineitem").filter(F.col("l_orderkey") % 10 == 0)
    year = F.date_format("l_shipdate", "yyyy")
    wh.create_or_replace(
        "t",
        li.filter("l_linenumber <= 2").withColumn("ship_year", year),
        partition_by="ship_year",
    )
    wh.evolve_partition_spec("t", "l_returnflag")
    wh.append("t", li.filter("l_linenumber > 2").withColumn("ship_year", year))
    location = export_iceberg_v2(wh, "t", str(tmp_path / "ice"))

    meta = _load_meta(location)
    specs = meta["partition-specs"]
    assert len(specs) >= 2  # the pre- and post-evolution layouts
    all_pfids = [f["field-id"] for s in specs for f in s["fields"]]
    assert len(all_pfids) == len(set(all_pfids)), all_pfids  # table-unique
    assert min(all_pfids) == 1000
    assert meta["last-partition-id"] == max(all_pfids)

    got = read_iceberg_v2(spark, location)
    bespoke = wh.read("t")
    assert sorted(map(tuple, got.select(*bespoke.columns).collect())) == sorted(
        map(tuple, bespoke.collect())
    )


def test_date_typed_identity_partition_roundtrip(spark, tmp_path):
    """ADVICE r10: identity partitioning on a DATE column (outside the
    manifest's native int/long/string/double branches) must round-trip —
    the manifest stores the hive string, the reader declares the mapping
    column string and casts to the declared Iceberg type."""
    from apache_iceberg_demo_spark.io import load

    wh = Warehouse(spark, str(tmp_path / "wh"))
    o = (
        load(spark, SF, "orders")
        .filter(F.col("o_orderkey") % 200 == 0)
        .withColumn("o_odate", F.to_date("o_orderdate"))
        .drop("o_orderdate")
    )
    wh.create_or_replace("o", o, partition_by="o_odate")
    location = export_iceberg_v2(wh, "o", str(tmp_path / "ice"))

    got = read_iceberg_v2(spark, location)
    assert dict(got.dtypes)["o_odate"] == "date"
    bespoke = wh.read("o")
    assert sorted(map(tuple, got.select(*bespoke.columns).collect())) == sorted(
        map(tuple, bespoke.collect())
    )

    # ADVICE r11 (medium) repro: deep validation of a date-partitioned
    # export must be clean — bounds for the date field are now serialized
    # (4-byte LE days), so the partition-summary check neither
    # false-positives on "values but no bounds" nor crashes decoding
    import importlib.util

    vpath = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "tools",
        "validate_iceberg_metadata.py",
    )
    sp = importlib.util.spec_from_file_location("validate_iceberg_metadata", vpath)
    mod = importlib.util.module_from_spec(sp)
    sp.loader.exec_module(mod)
    assert mod.validate(location, deep=True) == []

    # the date partition summaries carry real spec-serialized bounds that
    # cover every partition value, and summary-prune now works on them
    meta = _load_meta(location)
    _, _, mfs = read_ocf(_from_uri(meta["snapshots"][-1]["manifest-list"]))
    dates = sorted(
        r["o_odate"].isoformat()
        for r in o.select("o_odate").distinct().collect()
    )
    for mf in mfs:
        summ = mf["partitions"][0]
        assert len(summ["lower_bound"]) == 4 and len(summ["upper_bound"]) == 4
        lo = bound_value("date", summ["lower_bound"])
        hi = bound_value("date", summ["upper_bound"])
        assert dates[0] <= lo <= hi <= dates[-1]


def test_bound_serialization_date_boolean_decimal():
    """Spec single-value serialization for the ADVICE-r11 type gaps:
    date = 4-byte LE days from epoch, boolean = one byte, decimal =
    minimal big-endian two's-complement unscaled; foreign types decode
    to None via try_bound_value instead of raising."""
    import datetime
    import decimal as dec

    from apache_iceberg_demo_spark.sources.iceberg_v2 import (
        bound_bytes,
        bound_value,
        try_bound_value,
    )

    # date: ISO string and date object serialize identically; epoch maths
    assert bound_bytes("date", "1970-01-01") == b"\x00\x00\x00\x00"
    assert bound_bytes("date", datetime.date(1970, 1, 2)) == b"\x01\x00\x00\x00"
    assert bound_value("date", bound_bytes("date", "1995-03-04")) == "1995-03-04"
    assert bound_bytes("date", "not-a-date") is None
    # boolean: both spellings, one byte each
    assert bound_bytes("boolean", True) == b"\x01"
    assert bound_bytes("boolean", "false") == b"\x00"
    assert bound_value("boolean", b"\x01") is True
    # decimal: unscaled big-endian, sign-extended; exact round-trip
    raw = bound_bytes("decimal(15,2)", "123.45")
    assert raw == (12345).to_bytes(2, "big", signed=True)
    assert bound_value("decimal(15,2)", raw) == dec.Decimal("123.45")
    neg = bound_bytes("decimal(9,2)", dec.Decimal("-1.25"))
    assert bound_value("decimal(9,2)", neg) == dec.Decimal("-1.25")
    # value not representable at the declared scale: no bound, not a lie
    assert bound_bytes("decimal(9,2)", "0.005") is None
    # timestamps stay unserialized (warehouse stats strings are not
    # bit-stable); foreign types never raise through try_bound_value
    assert bound_bytes("timestamptz", "2024-01-01 00:00:00") is None
    assert try_bound_value("timestamptz", b"\x00" * 8) is None
    assert try_bound_value("uuid", b"\x00" * 16) is None
    assert try_bound_value("date", b"\x00") is None  # truncated payload


def test_unpartitioned_to_partitioned_evolution_keeps_old_values(spark, tmp_path):
    """ADVICE r10: a table evolved unpartitioned → identity-partitioned has
    OLD data files that still physically contain the partition column. The
    reader must not hit an ambiguous reference after the mapping join, and
    old files' values must come from the data (the manifest constant is
    NULL for them) while new files get the manifest constant."""
    from apache_iceberg_demo_spark.io import load

    wh = Warehouse(spark, str(tmp_path / "wh"))
    li = load(spark, SF, "lineitem").filter(F.col("l_orderkey") % 10 == 0)
    wh.create_or_replace("t", li.filter("l_linenumber <= 2"))  # unpartitioned
    wh.evolve_partition_spec("t", "l_returnflag")
    wh.append("t", li.filter("l_linenumber > 2"))
    location = export_iceberg_v2(wh, "t", str(tmp_path / "ice"))

    got = read_iceberg_v2(spark, location)
    bespoke = wh.read("t")
    assert sorted(map(tuple, got.select(*bespoke.columns).collect())) == sorted(
        map(tuple, bespoke.collect())
    )
    assert got.filter(F.col("l_returnflag").isNull()).count() == 0


def _two_spec_table(root: str, store_identity: bool) -> None:
    """Hand-assemble a table whose one snapshot lists two data manifests
    under DIFFERENT partition specs (identity ``a``, then identity ``b``),
    a shape the exporter itself never produces. ``f1`` (a = 5) holds
    v = 1, 2 and b = 10, 20; ``f2`` (b = 9) holds v = 3 and a = 7. With
    ``store_identity`` each file also stores its own identity column and
    its entry records ``value_counts`` for every stored column; without,
    the files omit it, as Hive-style partitioning does."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from apache_iceberg_demo_spark.sources.iceberg_v2 import (
        MANIFEST_FILE_SCHEMA as MFS,
        _manifest_entry_schema,
        _to_uri,
    )

    mdir = os.path.join(root, "metadata")
    ddir = os.path.join(root, "data")
    os.makedirs(mdir), os.makedirs(ddir)
    cols1 = {"v": [1, 2], "b": [10, 20]}
    cols2 = {"v": [3], "a": [7]}
    if store_identity:
        cols1["a"], cols2["b"] = [5, 5], [9]
    f1 = os.path.join(ddir, "f1.parquet")
    pq.write_table(pa.table({c: pa.array(x, pa.int64())
                             for c, x in cols1.items()}), f1)
    f2 = os.path.join(ddir, "f2.parquet")
    pq.write_table(pa.table({c: pa.array(x, pa.int64())
                             for c, x in cols2.items()}), f2)
    fid_of = {"v": 1, "a": 2, "b": 3}
    schema = {
        "type": "struct", "schema-id": 0,
        "fields": [
            {"id": 1, "name": "v", "required": False, "type": "long"},
            {"id": 2, "name": "a", "required": False, "type": "long"},
            {"id": 3, "name": "b", "required": False, "type": "long"},
        ],
    }
    spec0 = [{"name": "a", "transform": "identity", "source-id": 2, "field-id": 1000}]
    spec1 = [{"name": "b", "transform": "identity", "source-id": 3, "field-id": 1001}]

    def entry(path, part, cols):
        n = len(cols["v"])
        return {
            "status": 1, "snapshot_id": 1, "sequence_number": 1,
            "file_sequence_number": 1,
            "data_file": {
                "content": 0, "file_path": _to_uri(path),
                "file_format": "PARQUET", "partition": part,
                "record_count": n,
                "file_size_in_bytes": os.path.getsize(path),
                "value_counts": [{"key": fid_of[c], "value": n}
                                 for c in cols] if store_identity else None,
                "lower_bounds": None, "upper_bounds": None,
            },
        }

    m0 = os.path.join(mdir, "m0.avro")
    l0 = write_ocf(
        m0,
        _manifest_entry_schema(
            [{"name": "a", "type": ["null", "long"], "default": None,
              "field-id": 1000}]
        ),
        [entry(f1, {"a": 5}, cols1)],
        metadata={"schema": json.dumps(schema), "schema-id": "0",
                  "partition-spec": json.dumps(spec0),
                  "partition-spec-id": "0", "format-version": "2",
                  "content": "data"},
    )
    m1 = os.path.join(mdir, "m1.avro")
    l1 = write_ocf(
        m1,
        _manifest_entry_schema(
            [{"name": "b", "type": ["null", "long"], "default": None,
              "field-id": 1001}]
        ),
        [entry(f2, {"b": 9}, cols2)],
        metadata={"schema": json.dumps(schema), "schema-id": "0",
                  "partition-spec": json.dumps(spec1),
                  "partition-spec-id": "1", "format-version": "2",
                  "content": "data"},
    )
    mlist = os.path.join(mdir, "snap-1-1-x.avro")

    def mf(path, length, spec_id):
        return {"manifest_path": _to_uri(path), "manifest_length": length,
                "partition_spec_id": spec_id, "content": 0,
                "sequence_number": 1, "min_sequence_number": 1,
                "added_snapshot_id": 1, "added_files_count": 1,
                "existing_files_count": 0, "deleted_files_count": 0,
                "added_rows_count": 1, "existing_rows_count": 0,
                "deleted_rows_count": 0, "partitions": None,
                "key_metadata": None}

    write_ocf(mlist, MFS, [mf(m0, l0, 0), mf(m1, l1, 1)],
              metadata={"format-version": "2"})
    meta = {
        "format-version": 2, "table-uuid": "0" * 32, "location": _to_uri(root),
        "last-sequence-number": 1, "last-updated-ms": 0, "last-column-id": 3,
        "current-schema-id": 0, "schemas": [schema],
        "default-spec-id": 1,
        "partition-specs": [{"spec-id": 0, "fields": spec0},
                            {"spec-id": 1, "fields": spec1}],
        "last-partition-id": 1001,
        "default-sort-order-id": 0,
        "sort-orders": [{"order-id": 0, "fields": []}],
        "properties": {},
        "current-snapshot-id": 1,
        "snapshots": [{"snapshot-id": 1, "sequence-number": 1,
                       "timestamp-ms": 0, "manifest-list": _to_uri(mlist),
                       "summary": {"operation": "append"}, "schema-id": 0}],
        "snapshot-log": [], "metadata-log": [], "refs": {},
    }
    with open(os.path.join(mdir, "v1.metadata.json"), "w") as f:
        json.dump(meta, f)
    with open(os.path.join(mdir, "version-hint.text"), "w") as f:
        f.write("1")


def test_reader_unions_partition_fields_across_manifests(spark, tmp_path):
    """ADVICE r10: a manifest LIST may reference data manifests written
    under DIFFERENT partition specs (the norm for real Iceberg tables).
    Each spec's identity field binds by NAME from the files that store
    it, so the read unions both specs' fields."""
    root = str(tmp_path / "ice")
    _two_spec_table(root, store_identity=True)
    got = sorted(map(tuple, read_iceberg_v2(spark, root).collect()))
    assert got == [(1, 5, 10), (2, 5, 20), (3, 7, 9)]


def test_reader_refuses_files_without_identity_columns(spark, tmp_path):
    """A data file that does not store an identity partition source
    column (no ``value_counts`` for its field id — a Hive-migrated file)
    makes the read raise, naming the file and the column, rather than
    read NULL: identity values come from the files only."""
    root = str(tmp_path / "ice")
    _two_spec_table(root, store_identity=False)
    with pytest.raises(ValueError, match=r"f1\.parquet does not store "
                       r"identity partition column 'a'"):
        read_iceberg_v2(spark, root)


def test_name_mapping_resolves_renamed_lineage(spark, tmp_path):
    """Renames are exported via the spec's schema.name-mapping.default
    property (the mechanism for data files without embedded field ids):
    pre-rename files carry the old physical spelling, a post-rename append
    writes the middle one, and the spec reader coalesces both under the
    current name — also after the snapshots that wrote them expired."""
    from apache_iceberg_demo_spark.io import load

    wh = Warehouse(spark, str(tmp_path / "wh"))
    n = load(spark, SF, "nation")
    wh.create_or_replace("nt", n.filter(F.col("n_nationkey") < 10))
    wh.rename_column("nt", "n_name", "nation_name")
    wh.append(
        "nt",
        n.filter(F.col("n_nationkey") >= 10).withColumnRenamed(
            "n_name", "nation_name"
        ),
    )
    wh.rename_column("nt", "nation_name", "nation")
    wh.expire_snapshots("nt", keep_last=1)
    location = export_iceberg_v2(wh, "nt", str(tmp_path / "ice"))

    meta = _load_meta(location)
    nm = json.loads(meta["properties"]["schema.name-mapping.default"])
    entry = next(m for m in nm if "nation" in m["names"])
    assert entry["names"][0] == "nation"
    assert {"n_name", "nation_name"} <= set(entry["names"])

    spec = sorted(
        read_iceberg_v2(spark, location)
        .select("n_nationkey", "nation")
        .collect()
    )
    bespoke = sorted(wh.read("nt").select("n_nationkey", "nation").collect())
    assert spec == bespoke and len(spec) == 25
    assert all(r.nation is not None for r in spec)

    # bounds bind through each file's own ids as its metrics do: the file
    # written under the original spelling (whose snapshot expired) bounds
    # the renamed column's field too, so the reader can prune on it
    snap = next(
        s for s in meta["snapshots"]
        if s["snapshot-id"] == meta["current-snapshot-id"]
    )
    _, _, mfs = read_ocf(_from_uri(snap["manifest-list"]))
    files = [
        e["data_file"]
        for m in mfs if m.get("content", 0) == 0
        for e in read_ocf(_from_uri(m["manifest_path"]))[2]
        if e["status"] != 2
    ]
    assert len(files) >= 2
    for d in files:
        assert entry["field-id"] in {kv["key"] for kv in d["lower_bounds"]}
        assert entry["field-id"] in {kv["key"] for kv in d["upper_bounds"]}
    pred = "nation = 'ALGERIA'"
    assert sorted(
        read_iceberg_v2(spark, location, where=pred).collect()
    ) == sorted(read_iceberg_v2(spark, location).where(pred).collect())


@pytest.mark.parametrize("case", ["drop_readd", "swap"])
def test_export_refuses_drop_then_readd(spark, tmp_path, case):
    """A name bound to two different field ids — a drop then re-add, or a
    swap of two columns by renames — stays refused: name-based resolution
    would read the other field's values. The message's advice works:
    rewrite_data_files(), then expire the snapshots before it, and the
    export reads back the current values."""
    from apache_iceberg_demo_spark.io import load

    wh = Warehouse(spark, str(tmp_path / "wh"))
    n = load(spark, SF, "nation")
    wh.create_or_replace("nt", n)
    if case == "drop_readd":
        wh.drop_column("nt", "n_name")
        wh.add_column("nt", "n_name", "string")
    else:
        wh.rename_column("nt", "n_name", "tmp")
        wh.rename_column("nt", "n_regionkey", "n_name")
        wh.rename_column("nt", "tmp", "n_regionkey")
    want = sorted(tuple(r) for r in wh.read("nt").collect())
    with pytest.raises(ValueError, match="two field ids") as err:
        export_iceberg_v2(wh, "nt", str(tmp_path / "ice"))
    assert "rewrite_data_files()" in str(err.value)
    assert "expire_snapshots()" in str(err.value)
    wh.rewrite_data_files("nt")
    wh.expire_snapshots("nt", keep_last=1)
    loc = export_iceberg_v2(wh, "nt", str(tmp_path / "ice"))
    got = read_iceberg_v2(spark, loc).select(*wh.read("nt").columns)
    assert sorted(tuple(r) for r in got.collect()) == want


def test_reexport_versions_metadata(spark, tmp_path):
    """Re-exporting an evolved table to the same location writes
    v2.metadata.json, carries v1 in metadata-log, and atomically bumps
    version-hint — the HadoopTableOperations versioning contract."""
    from apache_iceberg_demo_spark.io import load

    wh = Warehouse(spark, str(tmp_path / "wh"))
    n = load(spark, SF, "nation")
    wh.create_or_replace("nt", n.filter(F.col("n_nationkey") < 10))
    ice = str(tmp_path / "ice")
    export_iceberg_v2(wh, "nt", ice)
    assert read_iceberg_v2(spark, ice).count() == 10

    wh.append("nt", n.filter(F.col("n_nationkey") >= 10))
    export_iceberg_v2(wh, "nt", ice)
    mdir = os.path.join(ice, "metadata")
    with open(os.path.join(mdir, "version-hint.text")) as f:
        assert f.read().strip() == "2"
    with open(os.path.join(mdir, "v2.metadata.json")) as f:
        m2 = json.load(f)
    assert len(m2["metadata-log"]) == 1
    assert m2["metadata-log"][0]["metadata-file"].endswith("v1.metadata.json")
    # old version remains readable by explicit file; hint resolves the new
    assert os.path.exists(os.path.join(mdir, "v1.metadata.json"))
    assert read_iceberg_v2(spark, ice).count() == 25


def test_spec_read_plan_is_single_scan_without_join(spark, exported, tmp_path):
    """Scale shape: the spec-path read of a partitioned table is ONE
    vectorized FileScan and no join — never a per-partition-value union
    (the demo table alone has dozens of partition values). Partition
    values come from the files; an equality delete followed by an append
    scopes only the older files, and that scope is a filter on the file
    key, not a join."""
    import re

    def plan_of(df):
        return df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )

    def assert_one_scan_no_join(plan):
        assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 1
        for op in ("BroadcastHashJoin", "BroadcastExchange", "Union",
                   "SortMergeJoin"):
            assert op not in plan, op

    wh, name, location = exported
    assert_one_scan_no_join(plan_of(read_iceberg_v2(spark, location)))

    wh.create_or_replace("li_eq", wh.read(name), partition_by="l_linenumber")
    wh.delete_where_mor("li_eq", "l_returnflag = 'R'")
    wh.append("li_eq", wh.read(name).filter("l_returnflag = 'R'"))
    loc = export_iceberg_v2(wh, "li_eq", str(tmp_path / "ice"))
    assert _load_validator().validate(loc, deep=True) == []
    df = read_iceberg_v2(spark, loc)
    plan = plan_of(df)
    assert_one_scan_no_join(plan)
    assert "file_path" in plan.split("Filter", 1)[1]  # the partial scope
    got = sorted(map(tuple, df.collect()), key=str)
    assert got == sorted(map(tuple, wh.read("li_eq").collect()), key=str)
    assert sum(r.l_returnflag == "R" for r in df.collect()) > 0


def test_sort_order_and_summary_export(spark, tmp_path):
    """cluster_by tables export a real Iceberg sort order (identity asc,
    nulls-first) as the default; snapshot summaries carry the spec's
    string-valued file/record accounting."""
    from apache_iceberg_demo_spark.io import load

    wh = Warehouse(spark, str(tmp_path / "wh"))
    li = load(spark, SF, "lineitem").limit(400)
    wh.create_or_replace("cl", li, cluster_by=["l_orderkey"])
    location = export_iceberg_v2(wh, "cl", str(tmp_path / "ice"))
    meta = _load_meta(location)
    order = next(
        o for o in meta["sort-orders"] if o["order-id"] == meta["default-sort-order-id"]
    )
    (sf,) = order["fields"]
    assert sf["direction"] == "asc" and sf["transform"] == "identity"
    schema = meta["schemas"][meta["current-schema-id"]]
    src = next(f for f in schema["fields"] if f["id"] == sf["source-id"])
    assert src["name"] == "l_orderkey"
    # unsorted tables keep the unsorted default (order 0)
    wh.create_or_replace("pl", li)
    m2 = _load_meta(export_iceberg_v2(wh, "pl", str(tmp_path / "ice2")))
    assert m2["default-sort-order-id"] == 0
    # summary accounting: strings, consistent with the manifest list
    snap = meta["snapshots"][-1]
    assert snap["summary"]["operation"] == "overwrite"
    assert int(snap["summary"]["total-records"]) == 400
    assert snap["summary"]["total-data-files"].isdigit()


@pytest.mark.parametrize("op", ["rewrite_data_files", "apply_deletes", "merge_into"])
def test_rewrites_keep_sort_order(spark, tmp_path, op):
    """Compaction, the materialization of merge-on-read deletes and an
    unpartitioned MERGE rewrite a clustered table's files; the declared
    sort order survives each, and the v2 export still declares it."""
    wh = Warehouse(spark, str(tmp_path / "wh"))
    ddl = "k bigint, v bigint"
    wh.create_or_replace(
        "t", spark.createDataFrame([(k, k % 3) for k in range(20)], ddl),
        cluster_by=["k"],
    )
    if op == "rewrite_data_files":
        wh.rewrite_data_files("t")
    elif op == "apply_deletes":
        wh.delete_where_mor("t", "v = 0")
        wh.apply_deletes("t")
    else:
        wh.merge_into("t", spark.createDataFrame([(1, 9), (50, 9)], ddl), on=["k"])
    meta = wh._load_meta("t")
    assert meta["sort_order"] == ["k"]
    assert wh._snapshot(meta, meta["current_snapshot_id"])["operation"] != "append"
    exported = _load_meta(export_iceberg_v2(wh, "t", str(tmp_path / "ice")))
    assert exported["default-sort-order-id"] == 1


def test_divergent_branch_fast_append_inheritance(spark, tmp_path):
    """TRUE divergence: after a branch appends, MAIN appends too — two
    children of one parent. Each line must inherit the shared create
    manifest BY REFERENCE (same file in both heads' manifest lists) and
    add only its own manifest; reads through main and the ref stay
    disjoint beyond the shared base."""
    from apache_iceberg_demo_spark.io import load

    wh = Warehouse(spark, str(tmp_path / "wh"))
    n = load(spark, SF, "nation")
    wh.create_or_replace("nt", n.filter(F.col("n_nationkey") < 10))
    wh.create_branch("nt", "side")
    wh.append_to_branch(
        "nt", "side", n.filter(F.col("n_nationkey").between(10, 12))
    )
    wh.append("nt", n.filter(F.col("n_nationkey").between(20, 24)))  # main
    loc = export_iceberg_v2(wh, "nt", str(tmp_path / "ice"))
    meta = _load_meta(loc)

    def mpaths(sid):
        snap = next(s for s in meta["snapshots"] if s["snapshot-id"] == sid)
        _, _, mfs = read_ocf(_from_uri(snap["manifest-list"]))
        return [m["manifest_path"] for m in mfs if m["content"] == 0]

    main_ms = mpaths(meta["current-snapshot-id"])
    side_ms = mpaths(meta["refs"]["side"]["snapshot-id"])
    shared = set(main_ms) & set(side_ms)
    assert len(shared) == 1, "create manifest must be shared by reference"
    assert len(main_ms) == 2 and len(side_ms) == 2
    assert read_iceberg_v2(spark, loc).count() == 15  # 10 + main's 5
    assert read_iceberg_v2(spark, loc, ref="side").count() == 13  # 10 + 3


def test_refs_export_branches_and_tags(spark, tmp_path):
    """Branches and tags export as spec refs with their ancestries in the
    snapshot list; the snapshot-log stays main-history-only; reads through
    a ref resolve its head. Main content never includes branch data."""
    from apache_iceberg_demo_spark.io import load

    wh = Warehouse(spark, str(tmp_path / "wh"))
    n = load(spark, SF, "nation")
    wh.create_or_replace("nt", n.filter(F.col("n_nationkey") < 10))
    wh.tag_snapshot("nt", "v1.0")
    wh.create_branch("nt", "audit")
    wh.append_to_branch(
        "nt", "audit", n.filter(F.col("n_nationkey").between(10, 14))
    )
    location = export_iceberg_v2(wh, "nt", str(tmp_path / "ice"))
    meta = _load_meta(location)

    assert meta["refs"]["v1.0"]["type"] == "tag"
    assert meta["refs"]["audit"]["type"] == "branch"
    assert meta["refs"]["main"]["snapshot-id"] == meta["current-snapshot-id"]
    # branch head snapshot listed, but NOT in the main snapshot-log
    audit_head = meta["refs"]["audit"]["snapshot-id"]
    assert any(s["snapshot-id"] == audit_head for s in meta["snapshots"])
    assert all(e["snapshot-id"] != audit_head for e in meta["snapshot-log"])
    # sequence numbers strictly increase in snapshot order
    seqs = [s["sequence-number"] for s in meta["snapshots"]]
    assert seqs == sorted(seqs) and len(set(seqs)) == len(seqs)

    # reads: main sees 10 rows, the branch 15, the tag 10
    assert read_iceberg_v2(spark, location).count() == 10
    assert read_iceberg_v2(spark, location, ref="audit").count() == 15
    assert read_iceberg_v2(spark, location, ref="v1.0").count() == 10
    branch_rows = sorted(
        map(tuple, read_iceberg_v2(spark, location, ref="audit").collect())
    )
    bespoke = sorted(
        map(
            tuple,
            wh.read("nt", snapshot_id=wh.resolve_branch("nt", "audit")).collect(),
        )
    )
    assert branch_rows == bespoke


def test_our_reader_decodes_jvm_written_ocf(spark, tmp_path):
    """Independent-WRITER proof (the mirror of the JVM-reader tests): the
    reference Java Avro implementation writes a deflate-compressed,
    multi-block container; our pure-Python reader must decode it exactly."""
    jvm = spark._jvm
    schema_json = (
        '{"type":"record","name":"t","fields":['
        '{"name":"a","type":"long"},'
        '{"name":"b","type":["null","string"],"default":null}]}'
    )
    sch = jvm.org.apache.avro.Schema.Parser().parse(schema_json)
    dfw = jvm.org.apache.avro.file.DataFileWriter(
        jvm.org.apache.avro.generic.GenericDatumWriter(sch)
    )
    dfw.setCodec(jvm.org.apache.avro.file.CodecFactory.deflateCodec(6))
    dfw.setMeta("written-by", "jvm")
    path = str(tmp_path / "jvm_written.avro")
    dfw.create(sch, jvm.java.io.File(path))
    r1 = jvm.org.apache.avro.generic.GenericData.Record(sch)
    r1.put("a", 12345)
    r1.put("b", "hello")
    dfw.append(r1)
    r2 = jvm.org.apache.avro.generic.GenericData.Record(sch)
    r2.put("a", -7)
    dfw.append(r2)
    dfw.sync()  # force a second data block
    r3 = jvm.org.apache.avro.generic.GenericData.Record(sch)
    r3.put("a", 99)
    r3.put("b", "wörld")
    dfw.append(r3)
    dfw.close()

    got_schema, meta, recs = read_ocf(path)
    assert meta["written-by"] == "jvm"
    assert meta["avro.codec"] == "deflate"
    assert got_schema["name"] == "t"
    assert recs == [
        {"a": 12345, "b": "hello"},
        {"a": -7, "b": None},
        {"a": 99, "b": "wörld"},
    ]


def test_hand_assembled_ocf_fixture(spark, tmp_path):
    """OCF bytes assembled BY HAND (independent of write_ocf), exercising
    the multi-block metadata map and the negative-count size-prefixed
    array-block form. Both independent readers — ours and the JVM
    reference implementation — must agree on the decoded values."""
    schema_json = (
        '{"type":"record","name":"h","fields":['
        '{"name":"n","type":"long"},'
        '{"name":"xs","type":{"type":"array","items":"int"}}]}'
    )
    sync = b"0123456789abcdef"

    def vint(n: int) -> bytes:  # zigzag varint, written out by hand
        z = (n << 1) ^ (n >> 63)
        out = bytearray()
        while True:
            b7 = z & 0x7F
            z >>= 7
            if z:
                out.append(b7 | 0x80)
            else:
                out.append(b7)
                return bytes(out)

    def kv(k: str, v: str) -> bytes:
        kb, vb = k.encode(), v.encode()
        return vint(len(kb)) + kb + vint(len(vb)) + vb

    header = b"Obj\x01"
    # metadata map in TWO blocks of one entry each, then the 0 terminator
    header += vint(1) + kv("avro.schema", schema_json)
    header += vint(1) + kv("avro.codec", "null")
    header += vint(0)
    header += sync

    # record 1: n=-3 (zigzag 5); xs=[7,-1] via NEGATIVE block count with a
    # byte-size prefix (count=-2, size=2, items 0x0E 0x01), then terminator
    body = bytes([0x05]) + vint(-2) + vint(2) + bytes([0x0E, 0x01]) + b"\x00"
    # record 2: n=300 -> zigzag 600 -> 0xD8 0x04; xs empty -> 0x00
    body += bytes([0xD8, 0x04, 0x00])
    block = vint(2) + vint(len(body)) + body + sync

    path = str(tmp_path / "hand.avro")
    with open(path, "wb") as f:
        f.write(header + block)

    expected = [{"n": -3, "xs": [7, -1]}, {"n": 300, "xs": []}]
    got_schema, meta, recs = read_ocf(path)
    assert recs == expected
    assert got_schema["name"] == "h" and meta["avro.codec"] == "null"

    jvm = spark._jvm
    dfr = jvm.org.apache.avro.file.DataFileReader(
        jvm.java.io.File(path), jvm.org.apache.avro.generic.GenericDatumReader()
    )
    theirs = []
    while dfr.hasNext():
        rec = dfr.next()
        theirs.append(
            (rec.get("n"), [x for x in rec.get("xs")])
        )
    dfr.close()
    assert theirs == [(-3, [7, -1]), (300, [])]


def test_spec_read_prunes_files_on_null_counts(spark, tmp_path):
    """IS [NOT] NULL conjuncts prune files from the exported
    null_value_counts/value_counts metrics at scan planning: a file with
    zero nulls never feeds an IS NULL scan, an all-null file never feeds
    an IS NOT NULL scan, and results stay exact either way."""
    from apache_iceberg_demo_spark.io import load

    wh = Warehouse(spark, str(tmp_path / "wh"))
    li = (
        load(spark, SF, "lineitem")
        .filter(F.col("l_orderkey") % 10 == 0)
        .filter("l_linenumber <= 2")
        # linenumber 1 → column entirely NULL; linenumber 2 → no NULLs
        .withColumn(
            "maybe_flag",
            F.when(F.col("l_linenumber") == 1, None).otherwise(
                F.col("l_returnflag")
            ),
        )
    )
    wh.create_or_replace("t", li, partition_by="l_linenumber")
    loc = export_iceberg_v2(wh, "t", str(tmp_path / "ice"))

    full = read_iceberg_v2(spark, loc)
    nulls_df = read_iceberg_v2(spark, loc, where="maybe_flag IS NULL")
    notnull_df = read_iceberg_v2(spark, loc, where="maybe_flag IS NOT NULL")
    assert 0 < len(nulls_df.inputFiles()) < len(full.inputFiles())
    assert all("l_linenumber=1" in f for f in nulls_df.inputFiles())
    assert 0 < len(notnull_df.inputFiles()) < len(full.inputFiles())
    assert all("l_linenumber=2" in f for f in notnull_df.inputFiles())
    n1 = li.filter("l_linenumber = 1").count()
    n2 = li.filter("l_linenumber = 2").count()
    assert nulls_df.count() == n1 > 0
    assert notnull_df.count() == n2 > 0
    # conjunct alongside other predicates still prunes AND still filters
    both = read_iceberg_v2(
        spark, loc, where="maybe_flag IS NOT NULL AND l_quantity >= 25"
    )
    assert all("l_linenumber=2" in f for f in both.inputFiles())
    assert both.count() == li.filter(
        "l_linenumber = 2 AND l_quantity >= 25"
    ).count()


def test_manifest_level_partition_summary_pruning(spark, tmp_path, monkeypatch):
    """The manifest-list ``partitions`` field summaries (fid 507) must be
    exported with exact contains_null/bounds, the reader must skip an
    excluded DATA manifest without ever OPENING it (the planning gate for
    thousand-manifest tables), and a tampered summary must fail deep
    validation."""
    from apache_iceberg_demo_spark.io import load
    from apache_iceberg_demo_spark.sources import iceberg_v2 as iv

    mod = _load_validator()
    wh = Warehouse(spark, str(tmp_path / "wh"))
    li = load(spark, SF, "lineitem").filter(F.col("l_orderkey") % 10 == 0)
    wh.create_or_replace("t", li, partition_by="l_linenumber")
    loc = export_iceberg_v2(wh, "t", str(tmp_path / "ice"))
    assert mod.validate(loc, deep=True) == []

    meta = _load_meta(loc)
    snap = next(
        s for s in meta["snapshots"]
        if s["snapshot-id"] == meta["current-snapshot-id"]
    )
    _, _, mfs = read_ocf(_from_uri(snap["manifest-list"]))
    dm = next(m for m in mfs if m.get("content", 0) == 0)
    summ = dm["partitions"]
    assert summ and len(summ) == 1 and summ[0]["contains_null"] is False
    lo = bound_value("int", summ[0]["lower_bound"])
    hi = bound_value("int", summ[0]["upper_bound"])
    assert (lo, hi) == (1, li.agg(F.max("l_linenumber")).first()[0])

    # the reader must not OPEN the excluded manifest: count manifest Avro
    # reads (the manifest LIST itself is read via the module function too,
    # so count only non-list paths)
    opened: list[str] = []
    real = iv.read_ocf

    def counting(path):
        if "snap-" not in os.path.basename(path):
            opened.append(path)
        return real(path)

    monkeypatch.setattr(iv, "read_ocf", counting)
    assert iv.read_iceberg_v2(spark, loc, where="l_linenumber = -5").count() == 0
    assert opened == [], "excluded manifest was opened"
    opened.clear()
    n2 = iv.read_iceberg_v2(spark, loc, where="l_linenumber = 2").count()
    assert len(opened) == 1 and n2 == li.filter("l_linenumber = 2").count()
    monkeypatch.setattr(iv, "read_ocf", real)

    # tamper: shrink the upper bound so the summary no longer covers the
    # entries — deep validation must flag it
    from apache_iceberg_demo_spark.sources.iceberg_v2 import (
        MANIFEST_FILE_SCHEMA, bound_bytes,
    )

    dm["partitions"][0]["upper_bound"] = bound_bytes("int", 1)
    write_ocf(_from_uri(snap["manifest-list"]), MANIFEST_FILE_SCHEMA, mfs)
    bad = mod.validate(loc, deep=True)
    assert any("do not cover" in b for b in bad), bad


def test_spec_read_prunes_files_from_manifest_bounds(spark, exported):
    """Iceberg scan planning: the exported bounds + partition values must
    prune non-matching files BEFORE the scan — inputFiles() shows only the
    matching partition's files, and results stay exact."""
    wh, name, location = exported
    full = read_iceberg_v2(spark, location)
    pruned = read_iceberg_v2(spark, location, where="l_linenumber = 2")
    assert 0 < len(pruned.inputFiles()) < len(full.inputFiles())
    assert all("l_linenumber=2" in f for f in pruned.inputFiles())
    assert pruned.count() == wh.read(name, where="l_linenumber = 2").count() > 0
    # stats-column pruning (non-partition column, bounds-driven): a
    # predicate outside every file's l_orderkey range scans nothing
    nothing = read_iceberg_v2(spark, location, where="l_orderkey <= -1")
    assert len(nothing.inputFiles()) == 0 or nothing.count() == 0
    assert nothing.count() == 0


# ------------------------------------------- hidden partitioning (r12)


def test_murmur3_bucket_spec_vectors():
    """The bucket transform's hash pinned against the PUBLISHED Iceberg
    spec test vectors (Appendix B) — the conformance contract that lets a
    foreign engine prune our bucket[N] tables correctly."""
    import datetime
    import decimal as dec
    import struct

    from apache_iceberg_demo_spark.sources.transforms import (
        _bucket_bytes,
        bucket_value,
        murmur3_32,
    )

    assert murmur3_32(struct.pack("<q", 34)) == 2017239379          # int
    assert murmur3_32(struct.pack("<q", 34)) == 2017239379          # long
    assert murmur3_32(b"iceberg") == 1210000089                     # string
    assert murmur3_32(
        _bucket_bytes(datetime.date(2017, 11, 16))
    ) == -653330422                                                 # date
    assert murmur3_32(
        _bucket_bytes(dec.Decimal("14.20"))
    ) == -500754589                                                 # decimal
    assert murmur3_32(
        _bucket_bytes(datetime.datetime(2017, 11, 16, 22, 31, 8))
    ) == -2047944441                                                # timestamp
    t_us = (22 * 3600 + 31 * 60 + 8) * 1_000_000
    assert murmur3_32(struct.pack("<q", t_us)) == -662762989        # time
    # projection: (hash & Integer.MAX_VALUE) % N
    assert bucket_value(34, 8) == 2017239379 % 8
    assert bucket_value(None, 8) is None


def test_hidden_partitioning_day_export_roundtrip(spark, tmp_path):
    """days(ts) exports as a REAL day-transform spec: the derived column
    is hidden from the schema, the spec field binds source-id to the
    TIMESTAMP column with transform "day", manifest partition values are
    int days since epoch, summary bounds serialize as dates, the reader
    reproduces the source rows and prunes files from a source-column
    predicate, and deep validation is clean."""
    from apache_iceberg_demo_spark.io import load

    mod = _load_validator()
    wh = Warehouse(spark, str(tmp_path / "wh"))
    o = load(spark, SF, "orders").filter(
        (F.col("o_orderkey") % 20 == 0)
        & (F.col("o_orderdate") >= "1995-01-01")
        & (F.col("o_orderdate") < "1996-01-01")
    )
    wh.create_or_replace("t", o, partition_by="days(o_orderdate)")
    loc = export_iceberg_v2(wh, "t", str(tmp_path / "ice"))
    assert mod.validate(loc, deep=True) == []

    meta = _load_meta(loc)
    names = {f["name"] for s in meta["schemas"] for f in s["fields"]}
    assert "o_orderdate_days" not in names  # hidden, not a schema column
    spec = meta["partition-specs"][0]["fields"]
    src_fid = next(
        f["id"]
        for f in meta["schemas"][-1]["fields"]
        if f["name"] == "o_orderdate"
    )
    assert spec == [
        {
            "name": "o_orderdate_days",
            "transform": "day",
            "source-id": src_fid,
            "field-id": 1000,
        }
    ]

    # manifest partition values are int days since epoch
    import datetime

    snap = meta["snapshots"][-1]
    _, _, mfs = read_ocf(_from_uri(snap["manifest-list"]))
    _, mmeta, entries = read_ocf(_from_uri(mfs[0]["manifest_path"]))
    assert json.loads(mmeta["partition-spec"])[0]["transform"] == "day"
    epoch = datetime.date(1970, 1, 1)
    lo_expect = (datetime.date(1995, 1, 1) - epoch).days
    hi_expect = (datetime.date(1995, 12, 31) - epoch).days
    for e in entries:
        v = e["data_file"]["partition"]["o_orderdate_days"]
        assert isinstance(v, int) and lo_expect <= v <= hi_expect
    # summary bounds serialized as dates (4-byte LE days)
    summ = mfs[0]["partitions"][0]
    assert len(summ["lower_bound"]) == 4
    assert lo_expect <= bound_value_days(summ["lower_bound"]) <= hi_expect

    # read-back: user columns only, exact rows
    got = read_iceberg_v2(spark, loc)
    assert sorted(got.columns) == sorted(o.columns)
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, o.collect()))

    # source-column predicate prunes in transformed space and stays exact
    filt = read_iceberg_v2(spark, loc, where="o_orderdate >= '1995-07-01'")
    assert 0 < len(filt.inputFiles()) < len(got.inputFiles())
    assert filt.count() == o.filter("o_orderdate >= '1995-07-01'").count()
    none = read_iceberg_v2(spark, loc, where="o_orderdate < '1990-01-01'")
    assert none.count() == 0


def bound_value_days(raw: bytes) -> int:
    import struct

    return struct.unpack("<i", raw)[0]


def test_hidden_partitioning_bucket_and_truncate(spark, tmp_path):
    """bucket(8, key) and truncate(4, str) export as bucket[8] /
    truncate[4] specs; the manifest bucket values match the spec's
    murmur3 projection recomputed independently; equality predicates on
    the SOURCE column prune to the single matching partition file."""
    from apache_iceberg_demo_spark.io import load
    from apache_iceberg_demo_spark.sources.transforms import bucket_value

    mod = _load_validator()
    wh = Warehouse(spark, str(tmp_path / "wh"))
    o = load(spark, SF, "orders").filter(F.col("o_orderkey") % 20 == 0)

    wh.create_or_replace("tb", o, partition_by="bucket(8, o_custkey)")
    locb = export_iceberg_v2(wh, "tb", str(tmp_path / "iceb"))
    assert mod.validate(locb, deep=True) == []
    meta = _load_meta(locb)
    assert meta["partition-specs"][0]["fields"][0]["transform"] == "bucket[8]"
    # every file's bucket value == murmur3 projection of any row's key
    _, _, mfs = read_ocf(_from_uri(meta["snapshots"][-1]["manifest-list"]))
    _, _, entries = read_ocf(_from_uri(mfs[0]["manifest_path"]))
    by_file = {
        e["data_file"]["file_path"]: e["data_file"]["partition"][
            "o_custkey_bucket"
        ]
        for e in entries
    }
    full = read_iceberg_v2(spark, locb)
    k = o.select("o_custkey").first()[0]
    eq = read_iceberg_v2(spark, locb, where=f"o_custkey = {k}")
    assert len(eq.inputFiles()) == 1 and len(full.inputFiles()) > 1
    assert eq.count() == o.filter(F.col("o_custkey") == k).count()
    # the one surviving file's partition value is murmur3-bucket(key)
    surviving = eq.inputFiles()[0].replace("file:", "")
    v = next(
        pv
        for fp, pv in by_file.items()
        if _from_uri(fp) == "/" + surviving.lstrip("/")
    )
    assert v == bucket_value(k, 8)

    wh.create_or_replace("tt", o, partition_by="truncate(4, o_orderpriority)")
    loct = export_iceberg_v2(wh, "tt", str(tmp_path / "icet"))
    assert mod.validate(loct, deep=True) == []
    metat = _load_meta(loct)
    assert (
        metat["partition-specs"][0]["fields"][0]["transform"] == "truncate[4]"
    )
    pri = read_iceberg_v2(spark, loct, where="o_orderpriority = '1-URGENT'")
    allt = read_iceberg_v2(spark, loct)
    assert 0 < len(pri.inputFiles()) < len(allt.inputFiles())
    assert pri.count() == o.filter("o_orderpriority = '1-URGENT'").count()


def test_hidden_partitioning_manifest_prune_unopened(spark, tmp_path, monkeypatch):
    """Transformed-space SUMMARY pruning: on a multi-commit days(ts)
    table (fast-append → one manifest per commit), a one-month source
    predicate must leave the out-of-range months' manifests UNOPENED."""
    from apache_iceberg_demo_spark.io import load
    from apache_iceberg_demo_spark.sources import iceberg_v2 as iv

    wh = Warehouse(spark, str(tmp_path / "wh"))
    o = load(spark, SF, "orders").filter(F.col("o_orderkey") % 20 == 0)
    months = ["1995-01", "1995-02", "1995-03"]
    for i, m in enumerate(months):
        sl = o.filter(F.date_format("o_orderdate", "yyyy-MM") == m)
        if i == 0:
            wh.create_or_replace("t", sl, partition_by="days(o_orderdate)")
        else:
            wh.append("t", sl)
    loc = export_iceberg_v2(wh, "t", str(tmp_path / "ice"))

    opened: list[str] = []
    real = iv.read_ocf

    def counting(path):
        if "snap-" not in os.path.basename(path):
            opened.append(path)
        return real(path)

    monkeypatch.setattr(iv, "read_ocf", counting)
    got = iv.read_iceberg_v2(
        spark,
        loc,
        where="o_orderdate >= '1995-02-01' AND o_orderdate < '1995-03-01'",
    )
    n = got.count()
    monkeypatch.setattr(iv, "read_ocf", real)
    assert len(opened) == 1, f"opened {len(opened)} manifests, expected 1"
    assert n == o.filter(
        "o_orderdate >= '1995-02-01' AND o_orderdate < '1995-03-01'"
    ).count() > 0


def test_hidden_partition_manifest_jvm_readback(spark, tmp_path):
    """The JVM's REFERENCE Avro implementation reads a day-transform
    manifest: int partition values and the day transform in the embedded
    partition-spec header — an independent decoder, not our own reader
    checking our own writer."""
    from apache_iceberg_demo_spark.io import load

    wh = Warehouse(spark, str(tmp_path / "wh"))
    o = load(spark, SF, "orders").filter(
        (F.col("o_orderkey") % 40 == 0)
        & (F.col("o_orderdate") >= "1995-01-01")
        & (F.col("o_orderdate") < "1995-03-01")
    )
    wh.create_or_replace("t", o, partition_by="days(o_orderdate)")
    loc = export_iceberg_v2(wh, "t", str(tmp_path / "ice"))
    meta = _load_meta(loc)
    _, _, mfs = read_ocf(_from_uri(meta["snapshots"][-1]["manifest-list"]))
    mpath = _from_uri(mfs[0]["manifest_path"])
    _, _, ours = read_ocf(mpath)

    jvm = spark._jvm
    dfr = jvm.org.apache.avro.file.DataFileReader(
        jvm.java.io.File(mpath), jvm.org.apache.avro.generic.GenericDatumReader()
    )
    spec_header = bytes(dfr.getMeta("partition-spec")).decode()
    assert json.loads(spec_header)[0]["transform"] == "day"
    theirs = []
    while dfr.hasNext():
        rec = dfr.next()
        theirs.append(
            (
                str(rec.get("data_file").get("file_path")),
                int(
                    str(
                        rec.get("data_file")
                        .get("partition")
                        .get("o_orderdate_days")
                    )
                ),
            )
        )
    dfr.close()
    assert theirs == [
        (
            e["data_file"]["file_path"],
            e["data_file"]["partition"]["o_orderdate_days"],
        )
        for e in ours
    ]
    assert all(isinstance(v, int) and v > 9000 for _, v in theirs)


def test_unpartitioned_to_transform_evolution_export(spark, tmp_path):
    """Spec evolution ONTO a hidden transform: an unpartitioned table
    evolved to months(ts) exports both specs (old files unpartitioned,
    new files month-transformed), reads back exactly, MoR-delete +
    apply_deletes keep working, and deep validation stays clean."""
    from apache_iceberg_demo_spark.io import load

    mod = _load_validator()
    wh = Warehouse(spark, str(tmp_path / "wh"))
    o = load(spark, SF, "orders").filter(F.col("o_orderkey") % 5 == 0)
    wh.create_or_replace("t", o)
    wh.evolve_partition_spec("t", "months(o_orderdate)")
    o2 = o.withColumn("o_orderkey", F.col("o_orderkey") + 1)
    wh.append("t", o2)
    loc = export_iceberg_v2(wh, "t", str(tmp_path / "ice"))
    assert mod.validate(loc, deep=True) == []
    meta = _load_meta(loc)
    transforms_by_spec = [
        [f["transform"] for f in s["fields"]]
        for s in meta["partition-specs"]
    ]
    assert [] in transforms_by_spec or ["month"] in transforms_by_spec
    assert ["month"] in transforms_by_spec
    names = {f["name"] for s in meta["schemas"] for f in s["fields"]}
    assert "o_orderdate_months" not in names
    got = read_iceberg_v2(spark, loc)
    assert got.count() == o.count() + o2.count()
    # transformed-space pruning still sound across the mixed specs (old
    # unpartitioned files carry no partition value -> never skipped)
    w = "o_orderdate >= '1997-01-01'"
    assert read_iceberg_v2(spark, loc, where=w).count() == (
        o.filter(w).count() + o2.filter(w).count()
    )


def test_hidden_partitioning_hours_and_between_prune(spark, tmp_path):
    """hours(ts) exports as an hour transform (int hours since epoch) and
    a BETWEEN source predicate prunes via the expanded inequality pair."""
    from apache_iceberg_demo_spark.io import load
    from apache_iceberg_demo_spark.sources.transforms import (
        parse_spec,
        partition_value_to_spec,
        simple_conjuncts,
    )

    # unit: hour conversion + BETWEEN expansion
    tr = parse_spec("hours(ts)")
    assert tr.spec_name == "hour"
    assert partition_value_to_spec(tr, "1970-01-02-03", "timestamptz") == 27
    assert simple_conjuncts("ts BETWEEN '1995-01-01' AND '1995-02-01'") == [
        ("ts", ">=", "1995-01-01"),
        ("ts", "<=", "1995-02-01"),
    ]

    wh = Warehouse(spark, str(tmp_path / "wh"))
    e = (
        load(spark, SF, "events")
        .filter(F.col("user_id") % 20 == 0)
        .limit(200)
    )
    wh.create_or_replace("t", e, partition_by="hours(ts)")
    loc = export_iceberg_v2(wh, "t", str(tmp_path / "ice"))
    meta = _load_meta(loc)
    assert meta["partition-specs"][0]["fields"][0]["transform"] == "hour"
    names = {f["name"] for s in meta["schemas"] for f in s["fields"]}
    assert "ts_hours" not in names
    got = read_iceberg_v2(spark, loc)
    assert got.count() == e.count()
    # BETWEEN on the source timestamp prunes files in hour space
    tmin, tmax = e.agg(F.min("ts"), F.max("ts")).first()
    mid = tmin + (tmax - tmin) / 2
    w = f"ts BETWEEN '{tmin}' AND '{mid}'"
    filt = read_iceberg_v2(spark, loc, where=w)
    assert filt.count() == e.filter(w).count() > 0
    assert len(filt.inputFiles()) <= len(got.inputFiles())


def test_bucket_prune_literal_coercion():
    """A bucket-prune literal must hash in the SOURCE column's byte
    layout: '5' against an int key coerces to the int layout (utf-8
    hashing would land in the wrong bucket and prune a matching file);
    incompatible literal/source combinations never prune."""
    import datetime

    from apache_iceberg_demo_spark.sources.transforms import (
        apply_py,
        bucket_value,
        parse_spec,
        prune_disjoint,
    )

    tr = parse_spec("bucket(8, k)")
    assert apply_py(tr, "5", "long") == bucket_value(5, 8)
    assert apply_py(tr, 5.0, "long") == bucket_value(5, 8)
    assert apply_py(tr, 5.5, "long") is None      # fractional vs int key
    assert apply_py(tr, 7, "string") is None      # numeric lit vs string key
    assert apply_py(tr, "abc", "string") == bucket_value("abc", 8)
    assert apply_py(tr, "2017-11-16", "date") == bucket_value(
        datetime.date(2017, 11, 16), 8
    )
    assert apply_py(tr, "oops", "long") is None   # unparseable: no prune
    # prune_disjoint: only equality prunes buckets, and never on doubt
    b = bucket_value(5, 8)
    assert prune_disjoint(tr, "=", "5", (b + 1) % 8, (b + 1) % 8, "long")
    assert not prune_disjoint(tr, "=", "5", b, b, "long")
    assert not prune_disjoint(tr, ">=", "5", (b + 1) % 8, (b + 1) % 8, "long")
    assert not prune_disjoint(tr, "=", "oops", 0, 7, "long")


def test_prune_soundness_review_regressions():
    """Round-12 review findings, pinned: (1) truncate-on-int literals
    coerce to int space ('integer' Spark-JSON spelling included) —
    string-prefix truncation of a quoted numeric literal compared
    against an int-space partition value and unsoundly pruned; (2) text
    inside a quoted literal can neither fabricate a conjunct nor trip
    the OR guard; (3) aware timestamps hash their UTC instant, not the
    local wall clock; (4) an int64-overflow literal never crashes a
    read, it just doesn't prune; (5) NaT buckets to null; (6) decimal
    serialization is MINIMAL two's complement (-1.28 → 0x80, not
    0xff80); (7) timestamp micros are exact integers beyond 2^53 µs."""
    import datetime
    import decimal as dec
    import struct

    import pandas as pd

    from apache_iceberg_demo_spark.sources.iceberg_v2 import bound_bytes
    from apache_iceberg_demo_spark.sources.transforms import (
        _bucket_bytes,
        apply_py,
        bucket_value,
        min_signed_bytes,
        murmur3_32,
        parse_spec,
        prune_disjoint,
        simple_conjuncts,
        split_and_conjuncts,
    )

    # (1) truncate literal coercion, both spellings, fractional refusal
    tt = parse_spec("truncate(10, k)")
    assert apply_py(tt, "1234", "integer") == 1230
    assert apply_py(tt, 1234.0, "bigint") == 1230
    assert apply_py(tt, "12.5", "integer") is None
    assert not prune_disjoint(tt, "=", "1234", 1230, 1230, "integer")
    # string-source truncate still prefixes; numeric lit never prunes it
    ts = parse_spec("truncate(3, s)")
    assert apply_py(ts, "abcdef", "string") == "abc"
    assert apply_py(ts, 123, "string") is None

    # (2) literal injection: one legit conjunct, nothing fabricated
    inj = "note = 'a AND o_orderkey = 5 AND b'"
    assert simple_conjuncts(inj) == [
        ("note", "=", "a AND o_orderkey = 5 AND b")
    ]
    assert split_and_conjuncts("a = 1 OR b = 2") is None
    assert split_and_conjuncts("note = 'x OR y' AND k = 3") == [
        "note = 'x OR y'", "k = 3",
    ]
    entry = {"partition": {}, "stats": {"x": [10, 20]}}
    assert not Warehouse._can_skip(entry, "note = 'zzz AND x = 99' ")

    # (3) aware timestamps hash the UTC instant
    tz5 = datetime.timezone(datetime.timedelta(hours=5))
    assert _bucket_bytes(
        datetime.datetime(1970, 1, 1, 12, 0, tzinfo=tz5)
    ) == struct.pack("<q", 7 * 3600 * 1_000_000)

    # (4) overflow literal: no crash, no prune
    tb = parse_spec("bucket(8, k)")
    assert apply_py(tb, 99999999999999999999.0, "long") is None
    assert not prune_disjoint(tb, "=", 99999999999999999999.0, 3, 3, "long")

    # (5) NaT → null bucket (the pandas-UDF null path for ts columns)
    assert bucket_value(pd.NaT, 8) is None

    # (6) minimal two's complement, shared by bucket hash and bounds
    assert min_signed_bytes(-128) == b"\x80"
    assert min_signed_bytes(128) == b"\x00\x80"
    assert _bucket_bytes(dec.Decimal("-1.28")) == b"\x80"
    assert bound_bytes("decimal(9,2)", "-1.28") == b"\x80"
    assert murmur3_32(_bucket_bytes(dec.Decimal("14.20"))) == -500754589

    # (7) exact integer micros far from epoch
    far = datetime.datetime(2500, 6, 1, 12, 34, 56, 1)
    td = far - datetime.datetime(1970, 1, 1)
    assert _bucket_bytes(far) == struct.pack(
        "<q",
        td.days * 86_400_000_000 + td.seconds * 1_000_000 + td.microseconds,
    )


def test_transform_summary_tamper_detected(spark, tmp_path):
    """Deep validation covers TRANSFORMED partition summaries too: on a
    days(ts) table, shrinking a manifest's day-space upper bound below
    the entries' values must be flagged (same tamper class as the
    identity test, but decoded through the transform's result type)."""
    from apache_iceberg_demo_spark.io import load
    from apache_iceberg_demo_spark.sources.iceberg_v2 import (
        MANIFEST_FILE_SCHEMA,
        bound_bytes,
    )

    mod = _load_validator()
    wh = Warehouse(spark, str(tmp_path / "wh"))
    o = load(spark, SF, "orders").filter(
        (F.col("o_orderkey") % 40 == 0)
        & (F.col("o_orderdate") >= "1995-01-01")
        & (F.col("o_orderdate") < "1995-04-01")
    )
    wh.create_or_replace("t", o, partition_by="days(o_orderdate)")
    loc = export_iceberg_v2(wh, "t", str(tmp_path / "ice"))
    assert mod.validate(loc, deep=True) == []

    meta = _load_meta(loc)
    snap = meta["snapshots"][-1]
    _, _, mfs = read_ocf(_from_uri(snap["manifest-list"]))
    dm = next(m for m in mfs if m.get("content", 0) == 0)
    # day-space bound: serialize an impossibly-early date as the upper
    dm["partitions"][0]["upper_bound"] = bound_bytes("date", "1990-01-01")
    write_ocf(_from_uri(snap["manifest-list"]), MANIFEST_FILE_SCHEMA, mfs)
    bad = mod.validate(loc, deep=True)
    assert any("do not cover" in b for b in bad), bad


def test_advice_r12_regressions(spark, tmp_path):
    """Round-12 ADVICE findings, pinned.

    (1) a malformed numeric literal that still matches the [-0-9.]+
    regex (`1.2.3`, bare `-`) drops the conjunct instead of crashing
    the pruner with ValueError; (2) when the source column can't be
    resolved from the table schema, the native pruner (_prune_files)
    returns the file list UNCHANGED (a "string" src_type default could hash an
    int-keyed bucket literal in the utf-8 layout and unsoundly prune a
    matching file); (3) CursorExpiredError tolerates a None
    oldest_available (degenerate metadata: null/absent
    current-snapshot-id) and the ancestry walk is bounded against
    parent-pointer cycles in corrupt metadata."""
    import json as _json

    from apache_iceberg_demo_spark.io import load
    from apache_iceberg_demo_spark.sources.iceberg_v2 import (
        CursorExpiredError,
        read_iceberg_v2_changes,
    )
    from apache_iceberg_demo_spark.sources.transforms import simple_conjuncts

    # (1) malformed numerics: conjunct dropped, neighbours survive
    assert simple_conjuncts("k = 1.2.3") == []
    assert simple_conjuncts("k = -") == []
    assert simple_conjuncts("k = 1.2.3 AND j = 7") == [("j", "=", 7.0)]

    # (2) unresolvable source column → no prune at all
    wh = Warehouse(spark, str(tmp_path / "wh"))
    o = load(spark, SF, "orders").filter(F.col("o_orderkey") % 200 == 0)
    wh.create_or_replace("t", o, partition_by="bucket(4, o_custkey)")
    meta = wh._load_meta("t")
    snap = dict(wh._snapshot(meta, meta["current_snapshot_id"]))
    files = snap["manifest"]
    broken = dict(snap)
    schema_json = _json.loads(snap.get("schema") or meta["schema"])
    schema_json["fields"] = [
        f for f in schema_json["fields"] if f["name"] != "o_custkey"
    ]
    broken["schema"] = _json.dumps(schema_json)
    broken_meta = dict(meta)
    broken_meta["schema"] = broken["schema"]
    kept = wh._prune_files(broken_meta, broken, files, "o_custkey = 5")
    assert kept == files  # conservative: schema miss → keep everything
    # sanity: with the schema intact the same predicate DOES prune
    pruned = wh._prune_files(meta, snap, files, "o_custkey = 5")
    assert len(pruned) < len(files)

    # (3a) None oldest_available stays typed (no int(None) TypeError)
    err = CursorExpiredError(123, None)
    assert err.oldest_available is None and err.from_snapshot_id == 123
    assert "reset_change_feed" in str(err)

    # (3b) degenerate metadata: null current-snapshot-id + a parent
    # cycle — the walk must terminate in the typed error
    mdir = tmp_path / "cyc" / "metadata"
    mdir.mkdir(parents=True)
    cyc = {
        "format-version": 2,
        "table-uuid": "0" * 32,
        "location": str(tmp_path / "cyc"),
        "current-snapshot-id": 11,
        "snapshots": [
            {"snapshot-id": 11, "parent-snapshot-id": 12,
             "summary": {"operation": "append"}},
            {"snapshot-id": 12, "parent-snapshot-id": 11,
             "summary": {"operation": "append"}},
        ],
        "schemas": [], "partition-specs": [], "snapshot-log": [],
    }
    (mdir / "v1.metadata.json").write_text(_json.dumps(cyc))
    (mdir / "version-hint.text").write_text("1")
    with pytest.raises(CursorExpiredError) as exc:
        read_iceberg_v2_changes(spark, str(tmp_path / "cyc"), 999)
    assert exc.value.oldest_available in (11, 12)  # terminated, typed
    cyc["current-snapshot-id"] = None
    (mdir / "v1.metadata.json").write_text(_json.dumps(cyc))
    with pytest.raises(CursorExpiredError) as exc2:
        read_iceberg_v2_changes(spark, str(tmp_path / "cyc"), 999)
    assert exc2.value.oldest_available is None


def test_multi_field_partition_spec_roundtrip(spark, tmp_path):
    """Multi-field partition specs (VERDICT r12 item 2):
    ``PARTITIONED BY (days(o_orderdate), bucket(4, o_custkey))`` writes
    BOTH derived columns, exports a TWO-field v2 spec (day + bucket[4],
    field-ids 1000/1001, both derived names hidden from the schemas and
    name-mapping), the spec reader prunes files on EITHER source-column
    conjunct (and tighter on their conjunction), appends re-derive both
    columns, the native read path prunes too, and deep validation plus
    the JVM reference-Avro decode of the two-field manifest are clean."""
    import datetime

    from apache_iceberg_demo_spark.io import load
    from apache_iceberg_demo_spark.sources.transforms import bucket_value

    mod = _load_validator()
    wh = Warehouse(spark, str(tmp_path / "wh"))
    o = load(spark, SF, "orders").filter(
        (F.col("o_orderkey") % 20 == 0)
        & (F.col("o_orderdate") >= "1995-01-01")
        & (F.col("o_orderdate") < "1995-04-01")
    )
    spec_str = "days(o_orderdate), bucket(4, o_custkey)"
    wh.create_or_replace("t", o, partition_by=spec_str)
    meta_wh = wh._load_meta("t")
    assert meta_wh["partition_by"] == ["o_orderdate_days", "o_custkey_bucket"]

    # --- append re-derives BOTH hidden columns from raw source rows
    o2 = load(spark, SF, "orders").filter(
        (F.col("o_orderkey") % 20 == 10)
        & (F.col("o_orderdate") >= "1995-01-01")
        & (F.col("o_orderdate") < "1995-04-01")
    )
    wh.append("t", o2.select(*o.columns))
    expect = o.unionByName(o2)

    # --- native read path: exact rows + transformed-space file pruning
    nat = wh.read("t")
    assert nat.count() == expect.count()
    k = o.select("o_custkey").first()[0]
    nat_eq = wh.read("t", where=f"o_custkey = {k}")
    assert nat_eq.count() == expect.filter(F.col("o_custkey") == k).count()
    assert len(nat_eq.inputFiles()) < len(nat.inputFiles())

    # --- export: two-field spec, derived names hidden
    loc = export_iceberg_v2(wh, "t", str(tmp_path / "ice"))
    assert mod.validate(loc, deep=True) == []
    meta = _load_meta(loc)
    names = {f["name"] for s in meta["schemas"] for f in s["fields"]}
    assert "o_orderdate_days" not in names
    assert "o_custkey_bucket" not in names
    fid_of = {
        f["name"]: f["id"] for f in meta["schemas"][-1]["fields"]
    }
    spec = sorted(
        meta["partition-specs"][0]["fields"], key=lambda f: f["field-id"]
    )
    assert [
        (f["name"], f["transform"], f["source-id"]) for f in spec
    ] == [
        ("o_custkey_bucket", "bucket[4]", fid_of["o_custkey"]),
        ("o_orderdate_days", "day", fid_of["o_orderdate"]),
    ]
    assert [f["field-id"] for f in spec] == [1000, 1001]
    assert meta["last-partition-id"] == 1001
    nm = json.loads(
        meta["properties"]["schema.name-mapping.default"]
    )
    mapped = {n for m in nm for n in m["names"]}
    assert "o_orderdate_days" not in mapped
    assert "o_custkey_bucket" not in mapped

    # --- manifest entries carry BOTH result-typed values
    _, _, mfs = read_ocf(_from_uri(meta["snapshots"][-1]["manifest-list"]))
    data_mfs = [m for m in mfs if m.get("content", 0) == 0]
    epoch = datetime.date(1970, 1, 1)
    lo_d = (datetime.date(1995, 1, 1) - epoch).days
    hi_d = (datetime.date(1995, 3, 31) - epoch).days
    seen_buckets = set()
    for m in data_mfs:
        _, mmeta, entries = read_ocf(_from_uri(m["manifest_path"]))
        hdr = {
            f["name"]: f["transform"]
            for f in json.loads(mmeta["partition-spec"])
        }
        assert hdr == {
            "o_orderdate_days": "day", "o_custkey_bucket": "bucket[4]"
        }
        for e in entries:
            if e["status"] == 2:
                continue
            p = e["data_file"]["partition"]
            assert lo_d <= p["o_orderdate_days"] <= hi_d
            assert 0 <= p["o_custkey_bucket"] < 4
            seen_buckets.add(p["o_custkey_bucket"])
    assert len(seen_buckets) > 1  # data actually spreads across buckets

    # --- read-back equality (derived cols absent)
    got = read_iceberg_v2(spark, loc)
    assert sorted(got.columns) == sorted(o.columns)
    assert sorted(map(tuple, got.collect())) == sorted(
        map(tuple, expect.collect())
    )

    # --- pruning on EITHER conjunct; the AND prunes at least as tight
    full_n = len(got.inputFiles())
    by_date = read_iceberg_v2(spark, loc, where="o_orderdate >= '1995-03-01'")
    assert 0 < len(by_date.inputFiles()) < full_n
    assert by_date.count() == expect.filter(
        "o_orderdate >= '1995-03-01'"
    ).count()
    by_key = read_iceberg_v2(spark, loc, where=f"o_custkey = {k}")
    assert 0 < len(by_key.inputFiles()) < full_n
    assert by_key.count() == expect.filter(F.col("o_custkey") == k).count()
    both = read_iceberg_v2(
        spark, loc,
        where=f"o_custkey = {k} AND o_orderdate >= '1995-01-01'",
    )
    assert len(both.inputFiles()) <= len(by_key.inputFiles())
    assert both.count() == expect.filter(
        (F.col("o_custkey") == k) & (F.col("o_orderdate") >= "1995-01-01")
    ).count()
    # bucket value sanity: the surviving files' bucket == murmur3(key) % 4
    want_b = bucket_value(k, 4)
    for m in data_mfs:
        _, _, entries = read_ocf(_from_uri(m["manifest_path"]))
        for e in entries:
            if e["status"] == 2:
                continue
            fp = _from_uri(e["data_file"]["file_path"])
            if any(fp.endswith(s.split("file:")[-1]) for s in by_key.inputFiles()):
                assert e["data_file"]["partition"]["o_custkey_bucket"] == want_b

    # --- JVM reference-Avro decode of the two-field manifest
    jvm = spark._jvm
    mpath = _from_uri(data_mfs[0]["manifest_path"])
    _, _, ours = read_ocf(mpath)
    dfr = jvm.org.apache.avro.file.DataFileReader(
        jvm.java.io.File(mpath),
        jvm.org.apache.avro.generic.GenericDatumReader(),
    )
    hdr = {
        f["name"]: f["transform"]
        for f in json.loads(bytes(dfr.getMeta("partition-spec")).decode())
    }
    assert hdr == {
        "o_orderdate_days": "day", "o_custkey_bucket": "bucket[4]"
    }
    theirs = []
    while dfr.hasNext():
        rec = dfr.next()
        part = rec.get("data_file").get("partition")
        theirs.append(
            (
                str(rec.get("data_file").get("file_path")),
                int(str(part.get("o_orderdate_days"))),
                int(str(part.get("o_custkey_bucket"))),
            )
        )
    dfr.close()
    assert theirs == [
        (
            e["data_file"]["file_path"],
            e["data_file"]["partition"]["o_orderdate_days"],
            e["data_file"]["partition"]["o_custkey_bucket"],
        )
        for e in ours
    ]


def test_multi_field_spec_row_level_ops(spark, tmp_path):
    """Row-level DELETE / UPDATE on a multi-field-spec table: a DELETE
    rewrites exactly the files of the ``(day, bucket)`` tuples holding a
    matched row, and carries the other buckets of the same days; the
    rewrite lands under the FULL two-column layout, and results stay
    exact."""
    from apache_iceberg_demo_spark.io import load

    wh = Warehouse(spark, str(tmp_path / "wh"))
    base = load(spark, SF, "orders").filter(
        (F.col("o_orderkey") % 20 == 0)
        & (F.col("o_orderdate") >= "1995-01-01")
        & (F.col("o_orderdate") < "1995-04-01")
    )
    # each order gets two twins on its day under the next customer keys,
    # so a day holds several buckets
    o = base
    for j in (1, 2):
        o = o.unionByName(base.withColumns({
            "o_orderkey": F.col("o_orderkey") + j * 10_000_000,
            "o_custkey": F.col("o_custkey") + j,
        }))
    wh.create_or_replace("t", o, partition_by="days(o_orderdate), bucket(4, o_custkey)")

    k = base.select("o_custkey").first()[0]
    pcols = ("o_orderdate_days", "o_custkey_bucket")

    def tup(f):
        return tuple(str(f["partition"][c]) for c in pcols)

    meta = wh._load_meta("t")
    before = wh._snapshot(meta, meta["current_snapshot_id"])["manifest"]
    hit = {
        tuple(str(v) for v in r)
        for r in wh.read("t").filter(F.col("o_custkey") == k).select(*pcols).collect()
    }
    wh.delete_where("t", f"o_custkey = {k}")
    after_del = wh.read("t")
    assert after_del.filter(F.col("o_custkey") == k).count() == 0
    assert after_del.count() == o.filter(F.col("o_custkey") != k).count()
    meta = wh._load_meta("t")
    cur = wh._snapshot(meta, meta["current_snapshot_id"])
    kept = {f["path"] for f in cur["manifest"]}
    # exactly the matched tuples' files were rewritten; every other file,
    # including other buckets of a matched day, carried
    assert {tup(f) for f in before if f["path"] not in kept} == hit
    assert all(f["path"] in kept for f in before if tup(f) not in hit)
    hit_days = {d for d, _ in hit}
    assert any(tup(f)[0] in hit_days and tup(f) not in hit for f in before)
    # files still lay out under BOTH partition dirs
    assert all(
        {"o_orderdate_days", "o_custkey_bucket"} <= set(f["partition"])
        for f in cur["manifest"]
    )

    wh.update_where(
        "t", "o_orderpriority = '1-URGENT'", {"o_orderstatus": "'Z'"}
    )
    upd = wh.read("t")
    assert upd.filter(
        (F.col("o_orderpriority") == "1-URGENT")
        & (F.col("o_orderstatus") != "Z")
    ).count() == 0
    # untouched rows keep their status
    assert upd.filter(F.col("o_orderstatus") == "Z").count() == upd.filter(
        F.col("o_orderpriority") == "1-URGENT"
    ).count()


def test_mixed_identity_and_transform_spec(spark, tmp_path):
    """A spec mixing an IDENTITY field with a transform —
    ``o_orderpriority, days(o_orderdate)`` — exports the identity field
    as a schema-visible spec field (its value joins back into the data
    from the manifests) alongside the hidden day field; predicates on
    both prune together; deep validation is clean."""
    from apache_iceberg_demo_spark.io import load

    mod = _load_validator()
    wh = Warehouse(spark, str(tmp_path / "wh"))
    o = load(spark, SF, "orders").filter(
        (F.col("o_orderkey") % 20 == 0)
        & (F.col("o_orderdate") >= "1995-01-01")
        & (F.col("o_orderdate") < "1995-04-01")
    )
    wh.create_or_replace("m", o, partition_by="o_orderpriority, days(o_orderdate)")
    assert wh._load_meta("m")["partition_by"] == [
        "o_orderpriority", "o_orderdate_days"
    ]
    loc = export_iceberg_v2(wh, "m", str(tmp_path / "ice"))
    assert mod.validate(loc, deep=True) == []
    meta = _load_meta(loc)
    by_name = {
        f["name"]: f["transform"]
        for f in meta["partition-specs"][0]["fields"]
    }
    assert by_name == {
        "o_orderpriority": "identity", "o_orderdate_days": "day"
    }
    names = {f["name"] for s in meta["schemas"] for f in s["fields"]}
    assert "o_orderpriority" in names       # identity: schema-visible
    assert "o_orderdate_days" not in names  # transform: hidden
    got = read_iceberg_v2(spark, loc)
    assert sorted(got.columns) == sorted(o.columns)
    assert sorted(map(tuple, got.collect())) == sorted(
        map(tuple, o.collect())
    )
    w = "o_orderpriority = '1-URGENT' AND o_orderdate >= '1995-02-15'"
    filt = read_iceberg_v2(spark, loc, where=w)
    assert filt.count() == o.filter(w).count()
    assert len(filt.inputFiles()) < len(got.inputFiles())


def test_multi_field_spec_lifecycle_and_evolution(spark, tmp_path):
    """Lifecycle ops keep a multi-field table consistent: MoR delete +
    apply_deletes + bin-pack compaction preserve the two-column layout
    and the list-shaped partition_by metadata; spec evolution
    single->multi exports BOTH specs and the mixed-vintage table
    round-trips through the spec reader; deep validation clean after
    every step."""
    from apache_iceberg_demo_spark.io import load

    mod = _load_validator()
    wh = Warehouse(spark, str(tmp_path / "wh"))
    o = load(spark, SF, "orders").filter(
        (F.col("o_orderkey") % 20 == 0)
        & (F.col("o_orderdate") >= "1995-01-01")
        & (F.col("o_orderdate") < "1995-04-01")
    )
    o2 = load(spark, SF, "orders").filter(
        (F.col("o_orderkey") % 20 == 10)
        & (F.col("o_orderdate") >= "1995-01-01")
        & (F.col("o_orderdate") < "1995-04-01")
    ).select(*o.columns)

    wh.create_or_replace("t", o, partition_by="days(o_orderdate), bucket(4, o_custkey)")
    wh.append("t", o2)
    n0 = wh.read("t").count()
    wh.delete_where_mor("t", "o_orderpriority = '5-LOW'")
    n1 = wh.read("t").count()
    assert n1 < n0
    wh.apply_deletes("t")
    assert wh.read("t").count() == n1
    wh.rewrite_data_files("t")
    meta = wh._load_meta("t")
    assert meta["partition_by"] == ["o_orderdate_days", "o_custkey_bucket"]
    assert wh.read("t").count() == n1
    cur = wh._snapshot(meta, meta["current_snapshot_id"])
    assert all(
        {"o_orderdate_days", "o_custkey_bucket"} <= set(f["partition"])
        for f in cur["manifest"]
    )
    loc = export_iceberg_v2(wh, "t", str(tmp_path / "ice"))
    assert mod.validate(loc, deep=True) == []
    assert read_iceberg_v2(spark, loc).count() == n1

    # evolution single -> multi: old day-only files stay live, new spec
    # writes two-column; export carries both specs
    wh.create_or_replace("e", o, partition_by="days(o_orderdate)")
    wh.evolve_partition_spec("e", "days(o_orderdate), bucket(4, o_custkey)")
    assert wh._load_meta("e")["partition_by"] == [
        "o_orderdate_days", "o_custkey_bucket"
    ]
    wh.append("e", o2)
    ne = wh.read("e").count()
    assert ne == o.count() + o2.count()
    loce = export_iceberg_v2(wh, "e", str(tmp_path / "ice_e"))
    assert mod.validate(loce, deep=True) == []
    assert read_iceberg_v2(spark, loce).count() == ne
    metae = _load_meta(loce)
    shapes = [
        sorted((f["name"], f["transform"]) for f in s["fields"])
        for s in metae["partition-specs"]
    ]
    assert [("o_orderdate_days", "day")] in shapes
    assert sorted(
        [("o_custkey_bucket", "bucket[4]"), ("o_orderdate_days", "day")]
    ) in shapes
    # partition-field ids never alias across the two specs
    fids = [
        f["field-id"] for s in metae["partition-specs"] for f in s["fields"]
    ]
    by_name_id = {}
    for s in metae["partition-specs"]:
        for f in s["fields"]:
            by_name_id.setdefault(f["name"], set()).add(f["field-id"])
    assert all(len(v) == 1 for v in by_name_id.values())
    assert metae["last-partition-id"] == max(fids)


def test_transform_summary_tamper_second_field(spark, tmp_path):
    """Deep validation evaluates EVERY spec field's summary: on a
    days+bucket table, shrinking the SECOND field's (bucket) summary
    bound below the entries' values is flagged, not just the first."""
    from apache_iceberg_demo_spark.io import load
    from apache_iceberg_demo_spark.sources.iceberg_v2 import (
        MANIFEST_FILE_SCHEMA,
        bound_bytes,
    )

    mod = _load_validator()
    wh = Warehouse(spark, str(tmp_path / "wh"))
    o = load(spark, SF, "orders").filter(
        (F.col("o_orderkey") % 20 == 0)
        & (F.col("o_orderdate") >= "1995-01-01")
        & (F.col("o_orderdate") < "1995-04-01")
    )
    wh.create_or_replace("t", o, partition_by="days(o_orderdate), bucket(4, o_custkey)")
    loc = export_iceberg_v2(wh, "t", str(tmp_path / "ice"))
    assert mod.validate(loc, deep=True) == []

    meta = _load_meta(loc)
    spec_fields = meta["partition-specs"][0]["fields"]
    bucket_pos = next(
        i for i, f in enumerate(spec_fields)
        if f["transform"] == "bucket[4]"
    )
    snap = meta["snapshots"][-1]
    _, _, mfs = read_ocf(_from_uri(snap["manifest-list"]))
    dm = next(m for m in mfs if m.get("content", 0) == 0)
    # claim the bucket summary tops out below any real bucket value
    dm["partitions"][bucket_pos]["upper_bound"] = bound_bytes("int", -1)
    dm["partitions"][bucket_pos]["lower_bound"] = bound_bytes("int", -1)
    write_ocf(_from_uri(snap["manifest-list"]), MANIFEST_FILE_SCHEMA, mfs)
    bad = mod.validate(loc, deep=True)
    assert any("do not cover" in b for b in bad), bad


def test_review_r13_transform_width_rebind_refused(spark, tmp_path):
    """Round-13 review findings, pinned. A spec change that REBINDS an
    existing derived column to a different transform — bucket(4,k) →
    bucket(8,k), truncate width changes — is refused at evolve AND at
    replace: both widths derive the same column name, so old files'
    stored %4 values would be pruned in %8 space (natively on time
    travel, and by every conformant foreign reader of the export) and
    silently drop matching rows. Disjoint-derived-name changes (days →
    months, adding a field) stay allowed; replaces record spec lineage
    so the export-side guard can also see it."""
    from apache_iceberg_demo_spark.io import load

    wh = Warehouse(spark, str(tmp_path / "wh"))
    o = load(spark, SF, "orders").filter(F.col("o_orderkey") % 100 == 0)
    wh.create_or_replace("t", o, partition_by="bucket(4, o_custkey)")
    with pytest.raises(ValueError, match="rebinds derived column"):
        wh.evolve_partition_spec("t", "bucket(8, o_custkey)")
    with pytest.raises(ValueError, match="rebinds derived column"):
        wh.create_or_replace("t", o, partition_by="bucket(8, o_custkey)")
    with pytest.raises(ValueError, match="rebinds derived column"):
        wh.evolve_partition_spec(
            "t", "days(o_orderdate), bucket(8, o_custkey)"
        )
    # same transform: allowed (no-op rebind); disjoint names: allowed
    wh.evolve_partition_spec("t", "days(o_orderdate), bucket(4, o_custkey)")
    wh.create_or_replace("t2", o, partition_by="truncate(10, o_orderkey)")
    with pytest.raises(ValueError, match="rebinds derived column"):
        wh.evolve_partition_spec("t2", "truncate(100, o_orderkey)")
    wh.evolve_partition_spec("t2", "days(o_orderdate)")  # fine

    # replace-path lineage: a days->months replace records spec_history
    wh.create_or_replace("h", o, partition_by="days(o_orderdate)")
    wh.create_or_replace("h", o, partition_by="months(o_orderdate)")
    hist = [e["spec"] for e in wh._load_meta("h")["spec_history"]]
    assert "days(o_orderdate)" in hist

    # export-side defense in depth: a legacy metadata state with a
    # width-colliding history entry refuses to export
    wh.create_or_replace("x", o, partition_by="bucket(8, o_custkey)")
    meta = wh._load_meta("x")
    meta.setdefault("spec_history", []).append(
        {"spec": "bucket(4, o_custkey)", "until_snapshot_id": 0}
    )
    wh._store_meta("x", meta)
    with pytest.raises(ValueError, match="mislabel"):
        export_iceberg_v2(wh, "x", str(tmp_path / "ice_x"))


def test_review_r13_can_skip_malformed_literals(spark, tmp_path):
    """_can_skip shares simple_conjuncts' never-crash contract: malformed
    numeric literals and numeric-vs-string partition value comparisons
    keep the file (and the read succeeds) instead of raising ValueError
    through the scan."""
    from apache_iceberg_demo_spark.io import load

    entry = {"partition": {"m": "1995-03"}, "stats": {"x": [10, 20]}}
    assert not Warehouse._can_skip(entry, "x = 1.2.3")
    assert not Warehouse._can_skip(entry, "x = -")
    assert not Warehouse._can_skip(entry, "m = 5")  # month dir vs numeric
    assert Warehouse._can_skip(entry, "x = 99")     # well-formed still works

    wh = Warehouse(spark, str(tmp_path / "wh"))
    o = load(spark, SF, "orders").filter(F.col("o_orderkey") % 100 == 0)
    wh.create_or_replace("t", o, partition_by="bucket(4, o_custkey)")
    # end-to-end with VALID SQL whose literal token is junk for float():
    # `1-2` is arithmetic to Spark but matches the pruner's [-0-9.]+ —
    # the old unguarded float("1-2") crashed the read before Spark ever
    # evaluated it; now the conjunct is dropped and Spark computes -1
    got = wh.read("t", where="o_custkey = 1-2 AND o_orderkey > 0")
    assert got.count() == o.filter("o_custkey = -1").count()
    loc = export_iceberg_v2(wh, "t", str(tmp_path / "ice"))
    assert read_iceberg_v2(spark, loc, where="o_custkey = 1-2").count() \
        == o.filter("o_custkey = -1").count()


def test_row_level_ops_after_evolution_onto_transform(spark, tmp_path):
    """Round-13 probe finding, pinned: row-level ops on a table whose
    spec was EVOLVED ONTO a transform used to crash (the derived column
    is not in the declared schema, F.col() is unresolvable) — and rows
    from pre-evolution vintages would null-fill it, so a filter on the
    derived column could silently drop them. The copy-on-write rewrite
    now recomputes derived columns from source data:
    (1) unpartitioned -> days(), delete_where — exact result, every
    rewritten file lands under a real day dir, export validates and
    round-trips; (2) days() -> months() with legacy day files, delete —
    legacy rows survive; (3) update_where that SETS the transform's
    source column routes the moved row to its NEW day."""
    from apache_iceberg_demo_spark.io import load

    mod = _load_validator()
    wh = Warehouse(spark, str(tmp_path / "wh"))
    o = load(spark, SF, "orders").filter(F.col("o_orderkey") % 20 == 0)

    # (1) crash case: evolve onto a transform, then delete
    wh.create_or_replace("t", o)
    wh.evolve_partition_spec("t", "days(o_orderdate)")
    k = o.select("o_custkey").first()[0]
    wh.delete_where("t", f"o_custkey = {k}")
    got = wh.read("t")
    assert got.count() == o.filter(F.col("o_custkey") != k).count()
    meta = wh._load_meta("t")
    cur = wh._snapshot(meta, meta["current_snapshot_id"])
    vals = [f["partition"].get("o_orderdate_days") for f in cur["manifest"]]
    assert all(v and "DEFAULT" not in v for v in vals), vals[:5]
    loc = export_iceberg_v2(wh, "t", str(tmp_path / "ice"))
    assert mod.validate(loc, deep=True) == []
    assert read_iceberg_v2(spark, loc).count() == got.count()

    # (2) legacy-vintage survival: days -> months, delete one customer
    wh.create_or_replace("e", o, partition_by="days(o_orderdate)")
    wh.evolve_partition_spec("e", "months(o_orderdate)")
    before = wh.read("e").count()
    wh.delete_where("e", f"o_custkey = {k}")
    assert wh.read("e").count() == before - o.filter(
        F.col("o_custkey") == k
    ).count()

    # (3) update that moves a row across day partitions
    wh.create_or_replace("u", o, partition_by="days(o_orderdate)")
    probe = o.orderBy("o_orderkey").first()
    wh.update_where(
        "u",
        f"o_orderkey = {probe['o_orderkey']}",
        {"o_orderdate": "timestamp'1997-12-25 00:00:00'"},
    )
    u = wh.read("u")
    moved = u.filter(F.col("o_orderkey") == probe["o_orderkey"]).collect()
    assert len(moved) == 1
    assert str(moved[0]["o_orderdate"]).startswith("1997-12-25")
    assert moved[0]["o_orderdate_days"] == "1997-12-25"  # re-derived
    assert u.count() == o.count()
    # the moved row's file lives under its NEW day dir
    meta_u = wh._load_meta("u")
    cur_u = wh._snapshot(meta_u, meta_u["current_snapshot_id"])
    assert any(
        f["partition"].get("o_orderdate_days") == "1997-12-25"
        for f in cur_u["manifest"]
    )


def test_multi_field_spec_interop_corners(spark, tmp_path):
    """Round-13 corner sweep, pinned: on a days+bucket(4) table —
    incremental append scan and change feed return exactly the appended
    slice / full initial load; WAP stage is invisible until publish and
    the published table exports+validates; branch append + fast-forward
    exports with refs; as_of_ms time travel through the export sees the
    pre-append state; a MoR equality delete exports and the spec read
    applies it."""
    import glob as _glob

    from apache_iceberg_demo_spark.io import load
    from apache_iceberg_demo_spark.sources.iceberg_v2 import (
        iceberg_v2_change_feed,
        read_iceberg_v2_changes,
    )

    mod = _load_validator()
    wh = Warehouse(spark, str(tmp_path / "wh"))
    o = load(spark, SF, "orders").filter(F.col("o_orderkey") % 20 == 0)
    half = o.filter(F.col("o_orderkey") % 40 == 0)
    other = o.filter(F.col("o_orderkey") % 40 == 20).select(*half.columns)
    spec = "days(o_orderdate), bucket(4, o_custkey)"

    # incremental scan + change feed
    wh.create_or_replace("t", half, partition_by=spec)
    wh.append("t", other)
    loc = export_iceberg_v2(wh, "t", str(tmp_path / "ice_t"))
    meta = _load_meta(loc)
    snaps = [s["snapshot-id"] for s in meta["snapshots"]]
    assert read_iceberg_v2_changes(spark, loc, snaps[0]).count() == \
        other.count()
    frame, to_id = iceberg_v2_change_feed(
        spark, loc, str(tmp_path / "cursor")
    )
    assert frame.count() == o.count() and to_id == snaps[-1]

    # as_of_ms time travel through the export
    t0 = meta["snapshot-log"][0]["timestamp-ms"]
    assert read_iceberg_v2(spark, loc, as_of_ms=t0).count() == half.count()

    # WAP stage/publish
    wh.create_or_replace("w", half, partition_by=spec)
    snap = wh.stage_append("w", other)
    assert wh.read("w").count() == half.count()  # staged: invisible
    wh.publish("w", snap["snapshot_id"])
    assert wh.read("w").count() == o.count()
    locw = export_iceberg_v2(wh, "w", str(tmp_path / "ice_w"))
    assert mod.validate(locw, deep=True) == []
    assert read_iceberg_v2(spark, locw).count() == o.count()

    # branch + fast-forward, exported with refs
    wh.create_or_replace("b", half, partition_by=spec)
    wh.create_branch("b", "dev")
    wh.append_to_branch("b", "dev", other)
    wh.fast_forward("b", "dev")
    assert wh.read("b").count() == o.count()
    locb = export_iceberg_v2(wh, "b", str(tmp_path / "ice_b"))
    assert mod.validate(locb, deep=True) == []
    assert read_iceberg_v2(spark, locb).count() == o.count()

    # MoR equality delete applied by the spec read
    wh.create_or_replace("m", o, partition_by=spec)
    k = o.select("o_custkey").first()[0]
    wh.delete_where_mor("m", f"o_custkey = {k}")
    locm = export_iceberg_v2(wh, "m", str(tmp_path / "ice_m"))
    assert mod.validate(locm, deep=True) == []
    assert read_iceberg_v2(spark, locm).count() == o.filter(
        F.col("o_custkey") != k
    ).count()


def test_rename_drop_of_transform_source_column(spark, tmp_path):
    """Round-13 probe finding, pinned: schema evolution vs hidden
    partitioning. Renaming the SOURCE column of a transform used to
    strand the spec string on the old name (appends crashed on the
    unresolvable column); it now AUTO-EVOLVES the spec onto the new name
    (Iceberg's rename-transparency — the transform's identity is
    unchanged, only our name-based binding moves), recording the old
    spec in the lineage; old-derived-name files become a legacy vintage
    every path treats conservatively. Dropping a spec's source column is
    REFUSED (Iceberg's rule); renaming a derived partition column is
    REFUSED (its name is baked into the layout)."""
    from apache_iceberg_demo_spark.io import load

    mod = _load_validator()
    wh = Warehouse(spark, str(tmp_path / "wh"))
    o = load(spark, SF, "orders").filter(F.col("o_orderkey") % 20 == 0)
    half = o.filter(F.col("o_orderkey") % 40 == 0)
    other = o.filter(F.col("o_orderkey") % 40 == 20).select(*half.columns)

    wh.create_or_replace("r", half, partition_by="days(o_orderdate)")
    wh.rename_column("r", "o_orderdate", "odate")
    m = wh._load_meta("r")
    assert m["partition_spec"] == "days(odate)"
    assert m["partition_by"] == "odate_days"
    assert any(
        h["spec"] == "days(o_orderdate)" for h in m["spec_history"]
    )
    assert wh.read("r").count() == half.count()
    wh.append("r", other.withColumnRenamed("o_orderdate", "odate"))
    assert wh.read("r").count() == half.count() + other.count()
    # row-level delete across the mixed (old-name / new-name) vintages
    k = half.select("o_custkey").first()[0]
    wh.delete_where("r", f"o_custkey = {k}")
    expect = (
        half.count() + other.count()
        - o.filter(F.col("o_custkey") == k).count()
    )
    assert wh.read("r").count() == expect
    loc = export_iceberg_v2(wh, "r", str(tmp_path / "ice"))
    assert mod.validate(loc, deep=True) == []
    got = read_iceberg_v2(spark, loc)
    assert got.count() == expect
    # predicate on the NEW source name still reads exactly
    assert (
        read_iceberg_v2(spark, loc, where="odate >= '1995-01-01'").count()
        == got.filter("odate >= '1995-01-01'").count()
    )

    wh.create_or_replace("p", half, partition_by="days(o_orderdate)")
    with pytest.raises(ValueError, match="partition column"):
        wh.rename_column("p", "o_orderdate_days", "x")
    with pytest.raises(ValueError, match="source column"):
        wh.drop_column("p", "o_orderdate")
    # dropping the DERIVED column stays allowed (reads just hide it)
    wh.drop_column("p", "o_orderdate_days")
    assert wh.read("p").count() == half.count()


def test_equality_delete_on_dropped_column(spark, tmp_path):
    """r14 probe cycle 3 finding, fixed + pinned: an equality MoR delete
    keyed on a column that is later DROPPED exported fine (spec-legal —
    Iceberg allows dropping columns with live equality deletes; the
    delete keeps applying by field id against stored values) but the
    spec READER crashed with KeyError resolving equality_ids through the
    current schema only. It now resolves dropped fids through the
    historical schema versions and carries the physical column through
    the projection; files that never carried the column contribute NULL,
    which equality never matches."""
    mod = _load_validator()
    wh = Warehouse(spark, str(tmp_path / "wh"))
    base = spark.createDataFrame(
        [(1, "x", 1.0), (2, "y", 2.0), (3, "x", 3.0), (4, "z", 4.0)],
        "k int, tag string, v double",
    )
    wh.create_or_replace("o", base)
    wh.delete_where_mor("o", "tag = 'x'")
    wh.drop_column("o", "tag")
    assert sorted(r.k for r in wh.read("o").collect()) == [2, 4]
    loc = export_iceberg_v2(wh, "o", str(tmp_path / "ice"))
    assert mod.validate(loc, deep=True) == []
    g = read_iceberg_v2(spark, loc)
    assert sorted(r.k for r in g.collect()) == [2, 4]
    assert [c.lower() for c in g.columns] == ["k", "v"]
    # a post-delete append (no tag column anymore) must survive the
    # delete (sequence rule) — its rows have NULL for the dropped fid
    wh.append("o", spark.createDataFrame([(5, 5.0)], "k int, v double"))
    loc2 = export_iceberg_v2(wh, "o", str(tmp_path / "ice2"))
    assert mod.validate(loc2, deep=True) == []
    assert sorted(
        r.k for r in read_iceberg_v2(spark, loc2).collect()
    ) == [2, 4, 5]

    # multi-column tuple delete with ONE fid later dropped
    wh.create_or_replace("o2", base)
    wh.delete_where_mor("o2", "tag = 'x' AND k IN (1, 3)")
    wh.drop_column("o2", "tag")
    loc3 = export_iceberg_v2(wh, "o2", str(tmp_path / "ice3"))
    assert mod.validate(loc3, deep=True) == []
    assert sorted(
        r.k for r in read_iceberg_v2(spark, loc3).collect()
    ) == [2, 4]

    # rename THEN delete THEN drop: the delete file's parquet carries the
    # renamed spelling; historical-schema resolution still finds it
    wh.create_or_replace("o3", base)
    wh.rename_column("o3", "tag", "label")
    wh.delete_where_mor("o3", "label = 'x'")
    wh.drop_column("o3", "label")
    loc4 = export_iceberg_v2(wh, "o3", str(tmp_path / "ice4"))
    assert mod.validate(loc4, deep=True) == []
    assert sorted(
        r.k for r in read_iceberg_v2(spark, loc4).collect()
    ) == [2, 4]


def test_historical_spec_field_left_current_schema(spark, tmp_path):
    """r14 probe cycle 4 finding, fixed + pinned: a HISTORICAL spec's
    identity field can bind a field id that has left the current schema —
    (a) replace-with-a-different-transform drops the old derived column
    from the declared schema while the old spec still lists it, and
    (b) evolve-then-drop_column leaves LIVE files under the old layout.
    The reader resolved identity source types through the current schema
    only and crashed with KeyError; it now resolves through all schema
    versions (newest wins) — the values still join in, and the typed
    projection (declared columns only) drops them, metadata-only."""
    mod = _load_validator()
    wh = Warehouse(spark, str(tmp_path / "wh"))
    dt = spark.sql(
        "SELECT id AS k, timestamp'1969-12-25 06:00:00' + "
        "make_interval(0,0,0,CAST(id*3 AS INT),0,0,0) AS ts FROM range(0,8)"
    )
    # (a) replace with a different transform spec
    wh.create_or_replace("sx", dt, partition_by="months(ts)")
    wh.create_or_replace("sx", dt, partition_by="hours(ts)")
    loc = export_iceberg_v2(wh, "sx", str(tmp_path / "ice"))
    assert mod.validate(loc, deep=True) == []
    assert read_iceberg_v2(spark, loc).count() == 8

    # (b) evolve months->hours, append, then DROP the months-derived
    # column: pre-evolution files stay live under the months layout
    wh.create_or_replace("ev", dt, partition_by="months(ts)")
    wh.evolve_partition_spec("ev", "hours(ts)")
    wh.append("ev", dt.selectExpr("k + 100 AS k", "ts"))
    wh.drop_column("ev", "ts_months")
    assert wh.read("ev").count() == 16
    loc2 = export_iceberg_v2(wh, "ev", str(tmp_path / "ice2"))
    assert mod.validate(loc2, deep=True) == []
    g = read_iceberg_v2(spark, loc2)
    assert g.count() == 16
    assert [c.lower() for c in g.columns] == ["k", "ts"]
    n = 2 * dt.filter("ts >= '1970-01-01'").count()
    assert read_iceberg_v2(
        spark, loc2, where="ts >= '1970-01-01'"
    ).count() == n


def test_identity_partition_column_rename_drop_guards(spark, tmp_path):
    """ADVICE r13 (low ×2), pinned: the rename/drop spec guards were
    gated on ``"(" in spec`` and skipped identity terms — so renaming the
    partition column of a PLAIN identity-partitioned table stranded the
    spec on the old name, and dropping an identity partition column (plain
    or as a term of a mixed spec) left the spec referencing a dropped
    column; either way every later append crashed. Both are now refused
    up front (Iceberg refuses the drop for ALL spec-referenced columns;
    the identity rename is refused because the name IS the hive layout)."""
    from apache_iceberg_demo_spark.io import load

    wh = Warehouse(spark, str(tmp_path / "wh"))
    n = load(spark, SF, "nation")

    # plain paren-less identity spec
    wh.create_or_replace("pi", n, partition_by="n_regionkey")
    with pytest.raises(ValueError, match="partition column"):
        wh.rename_column("pi", "n_regionkey", "rk")
    with pytest.raises(ValueError, match="source column"):
        wh.drop_column("pi", "n_regionkey")
    # non-partition columns still rename/drop fine afterwards
    wh.rename_column("pi", "n_name", "nname")
    wh.drop_column("pi", "nname")
    wh.append("pi", n.drop("n_name"))
    assert wh.read("pi").count() == 2 * n.count()

    # identity term of a MIXED spec (the '(' gate used to skip this too)
    wh.create_or_replace(
        "mx", n, partition_by="n_regionkey, bucket(4, n_nationkey)"
    )
    with pytest.raises(ValueError, match="partition column"):
        wh.rename_column("mx", "n_regionkey", "rk")
    with pytest.raises(ValueError, match="source column"):
        wh.drop_column("mx", "n_regionkey")
    wh.append("mx", n)
    assert wh.read("mx").count() == 2 * n.count()


def test_compaction_and_expiry_after_evolution_export(spark, tmp_path):
    """Round-13 probe finding, pinned: (1) bin-pack compaction after an
    evolution ONTO a transform migrates every file to the day layout;
    (2) exporting after expire_snapshots writes a child whose
    parent-snapshot-id is EXPIRED — Java leaves that pointer dangling
    and readers must tolerate it, so the validator treats an absent
    parent as an expired ancestor (spec-legal) while still flagging a
    self-parent; (3) a multi-field table survives renaming one field's
    source column (spec follows to bucket(4, cust))."""
    import json as _json

    from apache_iceberg_demo_spark.io import load

    mod = _load_validator()
    wh = Warehouse(spark, str(tmp_path / "wh"))
    o = load(spark, SF, "orders").filter(F.col("o_orderkey") % 20 == 0)
    half = o.filter(F.col("o_orderkey") % 40 == 0)
    other = o.filter(F.col("o_orderkey") % 40 == 20).select(*half.columns)

    wh.create_or_replace("c", half)
    wh.evolve_partition_spec("c", "days(o_orderdate)")
    wh.append("c", other)
    n = wh.read("c").count()
    wh.rewrite_data_files("c")
    assert wh.read("c").count() == n
    m = wh._load_meta("c")
    cur = wh._snapshot(m, m["current_snapshot_id"])
    assert all("o_orderdate_days" in f["partition"] for f in cur["manifest"])
    wh.expire_snapshots("c", keep_last=1)
    wh.remove_orphan_files("c")
    loc = export_iceberg_v2(wh, "c", str(tmp_path / "ice"))
    meta = _load_meta(loc)
    # the surviving root's parent pointer dangles (expired ancestor)
    roots = [
        s for s in meta["snapshots"]
        if s.get("parent-snapshot-id") is not None
        and s["parent-snapshot-id"] not in {
            x["snapshot-id"] for x in meta["snapshots"]
        }
    ]
    assert roots, "expected a dangling (expired) parent pointer"
    assert mod.validate(loc, deep=True) == []
    assert read_iceberg_v2(spark, loc).count() == n
    # a self-parent IS still flagged
    broken = dict(meta)
    broken["snapshots"] = [dict(s) for s in meta["snapshots"]]
    broken["snapshots"][-1]["parent-snapshot-id"] = \
        broken["snapshots"][-1]["snapshot-id"]
    bdir = tmp_path / "broken" / "metadata"
    bdir.mkdir(parents=True)
    (bdir / "v1.metadata.json").write_text(_json.dumps(broken))
    (bdir / "version-hint.text").write_text("1")
    assert any(
        "its own parent" in b
        for b in mod.validate(str(tmp_path / "broken"))
    )

    # multi-field source rename follows in the spec
    wh.create_or_replace(
        "rm", half, partition_by="days(o_orderdate), bucket(4, o_custkey)"
    )
    wh.rename_column("rm", "o_custkey", "cust")
    m2 = wh._load_meta("rm")
    assert m2["partition_spec"] == "days(o_orderdate), bucket(4, cust)"
    assert m2["partition_by"] == ["o_orderdate_days", "cust_bucket"]
    wh.append("rm", other.withColumnRenamed("o_custkey", "cust"))
    assert wh.read("rm").count() == half.count() + other.count()
    loc2 = export_iceberg_v2(wh, "rm", str(tmp_path / "ice_rm"))
    assert mod.validate(loc2, deep=True) == []
    assert read_iceberg_v2(spark, loc2).count() == \
        half.count() + other.count()


def test_special_char_and_null_identity_partitions(spark, tmp_path):
    """Round-13 probe findings, pinned: partition values containing
    URI/hive-special characters.

    (1) Spark URL-escapes special chars in `_metadata.file_path` (space
    -> %20, %% -> %25) but leaves non-ASCII raw; manifest paths carry the
    literal on-disk form — the identity-partition join dropped every row
    of a '4-NOT SPECIFIED' (space) partition until the manifest keys
    were quoted the java.net.URI way (_uri_path_quote). (2) Hive-escaped
    dir VALUES (`p%%q` -> `p%%25q`, `x=y` -> `x%%3Dy`) were recorded in
    manifests in escaped form — exported wrong and joined wrong; they
    now hive-unescape. (3) NULL identity values export and join back as
    real nulls, and IS NULL reads stay exact."""
    from apache_iceberg_demo_spark.io import load

    mod = _load_validator()
    wh = Warehouse(spark, str(tmp_path / "wh"))

    # exotic identity values: space, percent, plus, non-ascii, equals, null
    ex = spark.createDataFrame(
        [(1, "a b"), (2, "p%q"), (3, "r+s"), (4, "café"),
         (5, "x=y"), (6, None), (7, "a b")],
        "k int, tag string",
    )
    wh.create_or_replace("x", ex, partition_by="tag")
    meta = wh._load_meta("x")
    cur = wh._snapshot(meta, meta["current_snapshot_id"])
    vals = {f["partition"].get("tag") for f in cur["manifest"]}
    assert vals == {"a b", "p%q", "r+s", "café", "x=y", None}  # unescaped
    loc = export_iceberg_v2(wh, "x", str(tmp_path / "ice"))
    assert mod.validate(loc, deep=True) == []
    got = read_iceberg_v2(spark, loc)
    assert sorted(map(tuple, got.select("k", "tag").collect()), key=str) \
        == sorted(map(tuple, ex.collect()), key=str)
    # row-level ops route to escaped-dir partitions
    wh.delete_where("x", "tag = 'a b'")
    assert wh.read("x").count() == 5
    wh.update_where("x", "tag = 'café'", {"k": "99"})
    assert wh.read("x").filter("k = 99").count() == 1

    # the real-data case that exposed it: o_orderpriority has a space
    o = load(spark, SF, "orders").filter(F.col("o_orderkey") % 20 == 0)
    on = o.withColumn(
        "op",
        F.when(F.col("o_orderkey") % 100 == 0, F.lit(None)).otherwise(
            F.col("o_orderpriority")
        ),
    )
    n_null = on.filter(F.col("op").isNull()).count()
    wh.create_or_replace("i", on, partition_by="op")
    loci = export_iceberg_v2(wh, "i", str(tmp_path / "ice_i"))
    assert mod.validate(loci, deep=True) == []
    g = read_iceberg_v2(spark, loci)
    assert g.count() == on.count()  # '4-NOT SPECIFIED' rows survived
    assert sorted(
        map(tuple, g.groupBy("op").count().collect()), key=str
    ) == sorted(map(tuple, on.groupBy("op").count().collect()), key=str)
    assert read_iceberg_v2(spark, loci, where="op IS NULL").count() == n_null
    assert (
        read_iceberg_v2(spark, loci, where="op = '4-NOT SPECIFIED'").count()
        == on.filter("op = '4-NOT SPECIFIED'").count()
    )

    # (4) equality deletes that scope only SOME files (an append after
    # each) over special-character dirs: the scope is a filter on the
    # files' URI-quoted, SQL-escaped paths, so every one must match
    S = "k int, tag string"
    model = [(1, " "), (2, "'"), (3, "%"), (4, "="), (5, "é"), (6, ""),
             (7, None), (8, "%"), (9, "'")]
    wh.create_or_replace("sp", spark.createDataFrame(model, S),
                         partition_by="tag")
    steps = [
        ("tag = '%'", [(10, "%"), (11, "'"), (12, "")]),
        ("k IN (2, 10)", [(2, "é"), (13, "="), (14, None)]),
    ]
    for pred, rows in steps:
        wh.delete_where_mor("sp", pred)
        model = [r for r in model
                 if not (r[1] == "%" if pred.startswith("tag") else r[0] in (2, 10))]
        wh.append("sp", spark.createDataFrame(rows, S))
        model += rows
    locs = export_iceberg_v2(wh, "sp", str(tmp_path / "ice_sp"))
    assert mod.validate(locs, deep=True) == []
    want = sorted(((k, t or None) for k, t in model), key=str)  # '' is NULL
    assert sorted(map(tuple, wh.read("sp").collect()), key=str) == want
    assert sorted(map(tuple, read_iceberg_v2(spark, locs).collect()),
                  key=str) == want


def test_positional_delete_on_special_char_partition_paths(spark, tmp_path):
    """ADVICE r13 (high): position-delete paths were stored verbatim from
    ``_metadata.file_path`` (java.net.URI-quoted, space -> %20) and the
    reader quoted them AGAIN (%2520) — the anti-join against ``__file``
    (single-quoted) missed, so MoR position deletes silently failed to
    remove rows from any data file under a URI-special partition dir, and
    the stored path also broke the spec's exact-string match against the
    manifest's raw ``data_file.file_path``. Pins the fix: the writer now
    URI-decodes before storing."""
    mod = _load_validator()
    wh = Warehouse(spark, str(tmp_path / "wh"))
    ex = spark.createDataFrame(
        [(1, "a b"), (2, "a b"), (3, "p%q"), (4, "café"), (5, None),
         (6, "4-NOT SPECIFIED"), (7, "4-NOT SPECIFIED"), (8, "x=y")],
        "k int, tag string",
    )
    wh.create_or_replace("x", ex, partition_by="tag")
    # non-equality predicate -> POSITION delete; matches rows living in
    # space/percent/non-ascii/equals/null partition dirs
    wh.delete_where_mor("x", "k < 7")
    loc = export_iceberg_v2(wh, "x", str(tmp_path / "ice"))
    assert mod.validate(loc, deep=True) == []

    meta = _load_meta(loc)
    cur = next(
        s
        for s in meta["snapshots"]
        if s["snapshot-id"] == meta["current-snapshot-id"]
    )
    _, _, mfs = read_ocf(_from_uri(cur["manifest-list"]))
    data_paths = set()
    pos_file = None
    for m in mfs:
        _, _, entries = read_ocf(_from_uri(m["manifest_path"]))
        for e in entries:
            d = e["data_file"]
            if m["content"] == 1:
                assert d["content"] == 1  # positional, not bogus equality
                pos_file = _from_uri(d["file_path"])
            else:
                data_paths.add(d["file_path"])
    assert pos_file is not None

    import pyarrow.parquet as pq

    stored = pq.read_table(pos_file).column("file_path").to_pylist()
    assert len(stored) == 6
    # spec-exact: every stored path is a literal member of the manifest's
    # raw data_file.file_path set. On disk (probed): space stays LITERAL,
    # '%' hive-escapes to %25, '=' to %3D — so raw paths legitimately
    # contain %25/%3D, and the double-encoding symptoms are %20 (quoted
    # space) and %2525 (re-quoted hive escape).
    assert set(stored) <= data_paths
    assert any(" " in p for p in stored)  # the space partition, raw
    assert not any("%20" in p or "%2525" in p for p in stored)

    # and the independent reader actually APPLIES the deletes (the
    # regression was a silent no-op on special-char paths)
    got = read_iceberg_v2(spark, loc)
    assert sorted(r.k for r in got.collect()) == [7, 8]
    assert sorted(map(tuple, got.collect()), key=str) == sorted(
        map(tuple, wh.read("x").collect()), key=str
    )


def test_position_deletes_build_from_a_local_relation(spark, tmp_path):
    """The spec read builds each position-delete file's (file, pos) side
    from Arrow: the broadcast's build side is a LocalTableScan, not a
    Python RDD scan. That anti-join is the plan's only join."""
    from apache_iceberg_demo_spark.io import load

    wh = Warehouse(spark, str(tmp_path / "wh"))
    r = load(spark, SF, "region")
    wh.create_or_replace("r", r, partition_by="r_name")
    wh.delete_where_mor("r", "r_regionkey > 1")  # positional
    location = export_iceberg_v2(wh, "r", str(tmp_path / "ice"))
    spec = read_iceberg_v2(spark, location)
    plan = spec._jdf.queryExecution().executedPlan().toString()
    assert "LocalTableScan [__dfile" in plan and "ExistingRDD" not in plan
    assert plan.count("Join") == 1
    assert sorted(x.r_regionkey for x in spec.collect()) == [0, 1]
