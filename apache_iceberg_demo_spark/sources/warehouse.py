"""Snapshot-versioned Parquet warehouse — the engine's table format (C6).

The reference stores its table as Apache Iceberg on a **file-based (hadoop)
catalog** — metadata JSON + manifests as plain files next to the data, no
metastore service (``/root/reference/scripts/csv_to_ice.py:11-13``,
``presto/etc/catalog/iceberg.properties:2-3``). The Iceberg Spark-runtime jar
is not available in this offline environment, so this module implements the
same *semantics* natively on Parquet, following Iceberg's public design
(snapshot log + per-snapshot manifest of data files with stats):

- ``create_or_replace`` / ``append``  — atomic snapshot commits
  (mirrors ``writeTo(...).createOrReplace()``, ``csv_to_ice.py:58``)
- ``read(..., snapshot_id= / as_of=)`` — time travel (VERSION AS OF)
- ``snapshots() / files() / history()`` — Iceberg-style metadata tables
  (reference queries its engines' metadata tables at ``README.md:204-207``)
- ``expire_snapshots`` — metadata + orphan-data GC
- ``rewrite_data_files`` — bin-packing compaction (north star: "read/write/
  compaction")

Manifests carry per-file row counts and per-column min/max stats (read from
Parquet footers), which is what enables Iceberg-style **file skipping**:
``read(..., where=...)`` prunes whole files on min/max before Spark ever
opens them — the effect the reference observes as Presto scanning 6.55 MB of
a 2 GB table (``README.md:162``).

Scale notes: metadata operations are O(#files) driver-side JSON — the same
asymptotic shape as Iceberg's manifest lists. Data-plane operations
(write/compact) are distributed Spark jobs. On a real cluster the metadata
dir lives on the object store; locally it's a directory.
"""

from __future__ import annotations

import decimal
import json
import os
import re
import shutil
import time
import uuid
from typing import Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StringType, StructField, StructType


def _hive_unescape(s: str) -> str:
    """Invert Spark's hive-path escaping (ExternalCatalogUtils
    escapePathName): ``%XX`` hex pairs in a partition dir name decode to
    the real character. Without this, a partition VALUE containing one of
    hive's escaped chars (``% = : #`` …) is recorded in the manifest as
    its escaped dir string — exported wrong and joined wrong. Spark only
    escapes ASCII, so single-char chr() decoding is exact; a ``%`` not
    followed by two hex digits passes through (matching Spark's
    unescapePathName leniency)."""
    if "%" not in s:
        return s
    out, i = [], 0
    while i < len(s):
        ch = s[i]
        if ch == "%" and i + 3 <= len(s):
            hx = s[i + 1:i + 3]
            if len(hx) == 2 and all(c in "0123456789abcdefABCDEF" for c in hx):
                out.append(chr(int(hx, 16)))
                i += 3
                continue
        out.append(ch)
        i += 1
    return "".join(out)


def _quote(name: str) -> str:
    """A column name as a Spark SQL identifier."""
    return "`" + name.replace("`", "``") + "`"


def _sql_type(t) -> str:
    """A Spark SQL type string; nested field names come out quoted (one
    JVM round trip, which ``simpleString`` avoids but cannot quote)."""
    return StructType([StructField("x", t)]).toDDL()[2:]


def _part_copy(col: str) -> str:
    """The reserved physical name of a partition column's in-file copy."""
    return f"__part_{col}"


def _now_ms() -> int:
    return int(time.time() * 1000)


#: a committed metadata version's file name under ``<table>/metadata/``
_VERSION_FILE = re.compile(r"v(\d+)\.metadata\.json")

#: how many ancestor version ids each version keeps in ``commit_log``
#: (Iceberg's ``write.metadata.previous-versions-max`` default)
_COMMIT_LOG = 100


def _unlink_if_present(path: str) -> None:
    try:
        os.unlink(path)
    except FileNotFoundError:
        pass


class CommitConflictError(RuntimeError):
    """Optimistic-concurrency commit failure (Iceberg's
    ``CommitFailedException`` analog): the version this writer would
    create, ``v<N+1>.metadata.json`` after loading ``N``, already exists,
    or a newer version that does not descend from it does. Nothing of the
    failed commit stays visible. Commutative operations (fast appends)
    catch this, reload, and reapply; non-commutative ones surface it to
    the caller."""


class Warehouse:
    def __init__(self, spark: SparkSession, root: str):
        """``root`` addresses the warehouse. Plain paths and ``file://``
        URIs are equivalent (the reference addresses its warehouse by URI —
        ``s3a://warehouse`` on MinIO, ``scripts/csv_to_ice.py:6``; a local
        deployment of the same code would pass ``file://...``). All internal
        FS operations flow through the normalized local path, so every
        metadata/data layout is byte-identical however the root was spelled
        — proven by running the warehouse surface under a URI root in
        tests/test_warehouse.py. Non-file schemes name exactly what they
        need: an object-store client seam this sandbox cannot host."""
        self.spark = spark
        self.root_uri = root
        self.root = self._localize_root(root)
        os.makedirs(self.root, exist_ok=True)

    @staticmethod
    def _localize_root(root: str) -> str:
        if root.startswith("file:"):
            from urllib.parse import urlparse

            u = urlparse(root)
            return "/" + (u.netloc + u.path).lstrip("/")
        if "://" in root:
            scheme = root.split("://", 1)[0]
            raise NotImplementedError(
                f"warehouse scheme {scheme!r} requires an object-store "
                "filesystem client (the reference uses s3a:// on MinIO — "
                "no object store ships in this sandbox); plain paths and "
                "file:// URIs are supported"
            )
        return root

    # ---------- paths ----------

    def _table_dir(self, name: str) -> str:
        return os.path.join(self.root, name)

    def _meta_path(self, name: str, version: int) -> str:
        return os.path.join(self._table_dir(name), "metadata", f"v{version}.metadata.json")

    def _versions(self, name: str) -> list[int]:
        """The committed metadata versions of a table, ascending."""
        try:
            names = os.listdir(os.path.join(self._table_dir(name), "metadata"))
        except FileNotFoundError:
            return []
        return sorted(int(m[1]) for m in map(_VERSION_FILE.fullmatch, names) if m)

    def exists(self, name: str) -> bool:
        """Whether the table has a committed version."""
        return bool(self._versions(name))

    def _load_meta(self, name: str) -> dict:
        """The table's current metadata: the highest ``v<N>.metadata.json``,
        with ``N`` in ``commit_seq``. A version removed between the listing
        and the open was superseded, so the listing is taken again; a file
        that does not parse raises."""
        while True:
            versions = self._versions(name)
            if not versions:
                raise FileNotFoundError(f"table {name!r} has no metadata")
            try:
                with open(self._meta_path(name, versions[-1])) as f:
                    meta = json.load(f)
            except FileNotFoundError:
                continue
            meta["commit_seq"] = versions[-1]
            return meta

    def _store_meta(self, name: str, meta: dict) -> None:
        """Commit ``meta`` as the version after the one it was loaded from,
        the Hadoop-catalog protocol (Iceberg ``HadoopTableOperations``):

        1. the JSON goes to a temp file in ``metadata/``;
        2. ``os.link`` publishes it as ``v<N+1>.metadata.json``; the link
           fails if that name exists, so of two writers loaded at ``N``
           exactly one commits and the other gets
           :class:`CommitConflictError`;
        3. the directory is listed again. A newer version that does not
           descend from this one means the name was free only because
           cleanup had removed it under a stale writer: the file is
           unlinked and the commit conflicts. Each version lists the ids
           of the last :data:`_COMMIT_LOG` versions it descends from in
           ``commit_log``, which tells that case from a writer that has
           already committed on top of this one;
        4. only then are the versions below ``N+1`` removed, so a table
           holds one version at rest.

        A failed store leaves ``meta`` as it was, ready for a reload and
        retry. A crashed writer leaves at most a temp file or an older
        version behind; neither blocks the next commit."""
        version = int(meta.get("commit_seq", 0)) + 1
        log = meta.get("commit_log", [])[1 - _COMMIT_LOG:] + [uuid.uuid4().hex]
        target = self._meta_path(name, version)
        os.makedirs(os.path.dirname(target), exist_ok=True)
        tmp = f"{target}.{log[-1]}.tmp"
        try:
            with open(tmp, "w") as f:
                json.dump(dict(meta, commit_seq=version, commit_log=log), f, indent=1)
            os.link(tmp, target)
        except FileExistsError:
            raise CommitConflictError(
                f"table {name!r}: version {version} is already committed"
            ) from None
        finally:
            _unlink_if_present(tmp)
        versions = self._versions(name)
        if versions[-1] > version and log[-1] not in self._load_meta(name)["commit_log"]:
            _unlink_if_present(target)
            raise CommitConflictError(
                f"table {name!r}: version {versions[-1]} superseded base {version - 1}"
            )
        meta.update(commit_seq=version, commit_log=log)
        for v in versions:
            if v < version:
                _unlink_if_present(self._meta_path(name, v))

    def _abs_path(self, name: str, entry_path: str) -> str:
        """Resolve a manifest path. Paths are stored RELATIVE to the table
        dir (A8: a moved/copied warehouse stays readable — the Iceberg
        ``allow_moved_paths`` concern); absolute paths from pre-A8 metadata
        still resolve as-is."""
        if os.path.isabs(entry_path):
            return entry_path
        return os.path.join(self._table_dir(name), entry_path)

    # ---------- manifest construction ----------

    @staticmethod
    def _decimal_stats_entry(mn, mx):
        """Serialize a Decimal min/max pair for the JSON manifest: a typed
        ``{"dec": "<str>"}`` marker, so consumers can compare NUMERICALLY
        (a bare string would make Python's min/max and ``_can_skip``'s
        lexicographic path silently wrong — '10.0' < '9.0')."""
        return [{"dec": str(mn)}, {"dec": str(mx)}]

    def _manifest_for_dir(self, name: str, data_dir: str) -> list[dict]:
        """Walk a snapshot's data dir; record per-file stats from footers."""
        import pyarrow.parquet as pq

        entries = []
        for dirpath, _dirs, files in os.walk(data_dir):
            for fn in files:
                if not fn.endswith(".parquet"):
                    continue
                path = os.path.join(dirpath, fn)
                md = pq.ParquetFile(path).metadata
                # column min/max across row groups (Iceberg manifest stats)
                stats: dict[str, list] = {}
                for rg in range(md.num_row_groups):
                    rgm = md.row_group(rg)
                    for ci in range(rgm.num_columns):
                        col = rgm.column(ci)
                        st = col.statistics
                        if st is None or not st.has_min_max:
                            continue
                        cname = col.path_in_schema
                        if cname.startswith(_part_copy("")):
                            continue  # the manifest's partition value
                        try:
                            mn, mx = st.min, st.max
                        except Exception:
                            # pyarrow cannot cast statistics for every
                            # logical type — decimal stored as annotated
                            # INT32/INT64/FIXED raises
                            # ArrowNotImplementedError (r14 probe: any
                            # decimal column killed create_or_replace).
                            # Recover decimals EXACTLY from the raw
                            # unscaled stats + the schema scale; anything
                            # else loses its (optional) stats only.
                            mnmx = _decimal_raw_stats(md, ci, st)
                            if mnmx is None:
                                continue
                            mn, mx = mnmx
                        if isinstance(mn, bytes):
                            try:
                                mn, mx = mn.decode(), mx.decode()
                            except UnicodeDecodeError:
                                continue
                        if not isinstance(
                            mn, (int, float, str, bool, decimal.Decimal)
                        ):
                            mn, mx = str(mn), str(mx)
                        if cname in stats:
                            stats[cname] = [min(stats[cname][0], mn), max(stats[cname][1], mx)]
                        else:
                            stats[cname] = [mn, mx]
                # Decimals aggregated exactly above; serialize for JSON
                # with the typed marker (see _decimal_stats_entry)
                for cname, (mn, mx) in list(stats.items()):
                    if isinstance(mn, decimal.Decimal):
                        stats[cname] = self._decimal_stats_entry(mn, mx)
                # hive-style partition values from the path; Spark writes
                # null partition values to the __HIVE_DEFAULT_PARTITION__
                # dir — normalize to a real None here so every consumer
                # (export null serialization, contains_null summaries,
                # pruning, copy-on-write grouping) sees null, not a sentinel
                # string that parses as a date/int never written
                part_vals = {}
                rel = os.path.relpath(path, data_dir)
                for seg in rel.split(os.sep)[:-1]:
                    if "=" in seg:
                        k, v = seg.split("=", 1)
                        part_vals[_hive_unescape(k)] = (
                            None
                            if v == "__HIVE_DEFAULT_PARTITION__"
                            else _hive_unescape(v)
                        )
                entries.append(
                    {
                        "path": os.path.relpath(path, self._table_dir(name)),
                        "size_bytes": os.path.getsize(path),
                        "row_count": md.num_rows,
                        "partition": part_vals,
                        "stats": stats,
                    }
                )
        return sorted(entries, key=lambda e: e["path"])

    @staticmethod
    def _next_snap_id(meta: Optional[dict], parent: Optional[int]) -> int:
        """The id the NEXT commit will receive. Shared by `_commit` and every
        data-dir tag computation: a commit whose parent sits below the max
        snapshot id (branch appends, appends after an unpublished
        stage_append) must not reuse `parent+1` — that id (and its
        `data/snap-NNNNN` directory) already belongs to another snapshot,
        and reusing the tag would overwrite that snapshot's committed
        files."""
        snap_id = (parent or 0) + 1
        if meta is not None and meta.get("snapshots"):
            # staged (unpublished) snapshots branch off the same parent as
            # later commits — ids must stay unique across the whole log, not
            # just along the current line (WAP, Iceberg's wap.id staging)
            snap_id = max(snap_id, max(s["snapshot_id"] for s in meta["snapshots"]) + 1)
        return snap_id

    def _commit(
        self,
        name: str,
        operation: str,
        files: list[dict],
        schema_ddl: str,
        parent: Optional[int],
        meta: dict,
        advance_current: bool = True,
        snap_extra=None,
    ) -> dict:
        """Append a snapshot of ``files`` to ``meta`` and store it: one
        commit, one metadata version. ``snap_extra(snapshot)``, when given,
        adds the operation's own snapshot fields (a delete entry, the
        staged flag) before that store, so no commit is ever published
        without them."""
        snap_id = self._next_snap_id(meta, parent)
        # Iceberg-style field ids: every schema column has a stable id;
        # columns new to the table (including RE-ADDED names after a drop —
        # the evolution mutators remove the old id first) get a fresh one, so
        # reads bind file data by identity, never by name collision.
        fids = dict(meta.get("fids", {}))
        nfid = int(meta.get("next_field_id", 1))
        for c in self._declared_schema({"schema": schema_ddl}).fieldNames():
            if c not in fids:
                fids[c] = nfid
                nfid += 1
        meta["fids"] = fids
        meta["next_field_id"] = nfid
        # each new data file records the ids it was written under: reads
        # bind its physical columns through them, whatever the snapshot log
        # still holds. A retried append keeps the ids of its first attempt.
        # A partition column binds through its in-file copy.
        for f in files:
            f.setdefault("fids", {
                _part_copy(c) if c in f["partition"] else c: i
                for c, i in fids.items()
            })
        snapshot = {
            "snapshot_id": snap_id,
            "parent_id": parent,
            "timestamp_ms": _now_ms(),
            "operation": operation,
            "manifest": files,
            # each snapshot carries ITS OWN schema + field ids (Iceberg:
            # schema evolution is metadata-only; time travel to an old
            # snapshot reads with that snapshot's schema)
            "schema": schema_ddl,
            "fids": dict(fids),
            "summary": {
                "added-files": len(files),
                "total-records": sum(f["row_count"] for f in files),
            },
        }
        # Iceberg v2 merge-on-read: delete entries recorded on the parent
        # still apply to the data files they were scoped to, so a child
        # snapshot inherits each entry that scopes one of its files. Files
        # rewritten away (a replace, a compaction) leave an entry inert and
        # it is dropped, exactly like sequence-number scoping in the
        # Iceberg spec.
        par = next((s for s in meta["snapshots"] if s["snapshot_id"] == parent), {})
        live = {f["path"] for f in files}
        inherited = [
            dict(d) for d in par.get("delete_predicates", []) if live.intersection(d["files"])
        ]
        if inherited:
            snapshot["delete_predicates"] = inherited
        if snap_extra is not None:
            snap_extra(snapshot)
        meta["schema"] = schema_ddl  # schema-wins-on-replace (SURVEY.md §1.3)
        if advance_current:
            meta["current_snapshot_id"] = snap_id
        meta["snapshots"].append(snapshot)
        self._store_meta(name, meta)
        return snapshot

    # ---------- write paths ----------

    @staticmethod
    def _pcols(partition_by) -> list[str]:
        """``meta["partition_by"]`` normalized to a list of derived
        partition column names. Single-field tables store a plain string
        (the pre-r13 metadata shape, kept for compatibility with existing
        table metadata); multi-field specs store a list."""
        if not partition_by:
            return []
        if isinstance(partition_by, str):
            return [partition_by]
        return list(partition_by)

    def _write_data(
        self,
        name: str,
        df: DataFrame,
        meta: Optional[dict],
        parent: Optional[int],
        partition_by,
        shuffle: bool = True,
        conform: bool = True,
    ) -> list[dict]:
        """Write the next commit's data files under ``data/snap-<id>-<uuid8>``
        (``<id>``: the snapshot id the commit will receive — a label only;
        ``_commit`` stamps the entries with the field ids they bind by) and
        return their manifest entries. Unless the frame defines the schema
        (a replace: ``conform=False``), columns are cast to the declared
        types the read schema assumes. Spark's ``partitionBy`` strips each
        partition column from its files, so a copy is stored under
        :func:`_part_copy`'s name: the value the hive dir (and so the
        manifest) records. Reads bind it by field id like any column. A
        string partition column is projected as ``nullif(c, '')``: the hive
        writer sends ``''`` and NULL to one dir, and the repartition must
        see them as one value too, or that dir gets a file from each. One
        SQL projection does all of it."""
        tag = f"snap-{self._next_snap_id(meta, parent):05d}-{uuid.uuid4().hex[:8]}"
        data_dir = os.path.join(self._table_dir(name), "data", tag)
        pcols = self._pcols(partition_by)
        have = {x.name: x.dataType for x in df.schema.fields}
        types = dict(have)  # column -> the type it is written as
        if conform:
            types.update((x.name, x.dataType) for x in self._declared_schema(meta).fields
                         if x.name in have)
        exprs = {
            c: _quote(c) if t == types[c] else f"CAST({_quote(c)} AS {_sql_type(types[c])})"
            for c, t in have.items()
        }
        for c in pcols:
            if isinstance(types[c], StringType):
                exprs[c] = f"nullif({exprs[c]}, '')"
        df = df.selectExpr(
            *[f"{e} AS {_quote(c)}" for c, e in exprs.items()],
            *[f"{exprs[c]} AS {_quote(_part_copy(c))}" for c in pcols],
        )
        if pcols and shuffle:
            # hash-repartition on the partition columns: each value lands in
            # exactly ONE task, so the write emits one file per value whatever
            # the upstream parallelism (at cluster scale this stops a W-task
            # upstream spraying W x values small files; ~0.3 s of shuffle per
            # sf0.01 write). Pre-clustered callers (sort-order tables) pass
            # shuffle=False; a giant value needs maxRecordsPerFile, not more
            # partitions. The width is the core count (defaultParallelism),
            # never the session's input-sized shuffle width: any n beyond
            # min(cores, #values) only adds empty writer tasks (plain
            # 200-partition session: 117 of 200 empty, the 83-dir fixture
            # write 1.50 s vs 0.87-1.07 s at 32), and an 8-partition session
            # starved the same write (1.5-4.6 s vs 0.9-1.4 s). AQE-coalesced
            # keyed repartition merged it into ONE task (1.5-2.6 s): rejected.
            df = df.repartition(df.sparkSession.sparkContext.defaultParallelism, *pcols)
        writer = df.write.mode("overwrite")
        if pcols:
            writer = writer.partitionBy(*pcols)
        writer.parquet(data_dir)
        return self._manifest_for_dir(name, data_dir)

    #: Iceberg-style hidden partition transforms (public Iceberg spec names):
    #: the table tracks `(transform, source_col)`; writers derive the partition
    #: value automatically and readers prune on it without the user ever
    #: selecting or maintaining the derived column (SURVEY.md §1.5 "hidden
    #: partitioning days(ts) preferred").
    TRANSFORMS = {
        "identity": lambda c: F.col(c),
        "days": lambda c: F.date_format(F.col(c), "yyyy-MM-dd"),
        "months": lambda c: F.date_format(F.col(c), "yyyy-MM"),
        "years": lambda c: F.date_format(F.col(c), "yyyy"),
        "hours": lambda c: F.date_format(F.col(c), "yyyy-MM-dd-HH"),
    }

    @classmethod
    def _apply_one_transform(cls, df: DataFrame, tr) -> DataFrame:
        """Materialize ONE parsed spec term's derived partition column.

        ``bucket`` uses the SPEC's murmur3-32 hash (seed 0, Appendix-B
        byte layouts, pinned against the published test vectors) — not
        Spark's ``F.hash`` (seed 42) or ``xxhash64``: the v2 export
        declares these tables ``bucket[N]``-partitioned, and a foreign
        Iceberg reader prunes with ITS murmur3, so any other hash here
        would make that reader silently drop matching files. The hash
        runs as an Arrow-batched pandas UDF (write-time only; a JVM
        deployment would use Iceberg's bundled bucket expression)."""
        from apache_iceberg_demo_spark.sources import transforms as T

        if tr.kind == "identity":
            return df  # plain column: already present
        pcol = tr.derived
        if tr.kind == "bucket":
            return df.withColumn(pcol, T.bucket_udf(tr.param)(F.col(tr.source)))
        if tr.kind == "truncate":
            dtype = dict(df.dtypes).get(tr.source, "")
            if dtype in ("int", "bigint", "smallint", "tinyint"):
                expr = F.col(tr.source) - F.pmod(F.col(tr.source), F.lit(tr.param))
            elif dtype == "string":
                expr = F.substring(F.col(tr.source), 1, tr.param)
            else:
                raise ValueError(
                    f"truncate transform unsupported for {dtype or 'unknown'}"
                    f" column {tr.source!r} (int/long/string only)"
                )
            return df.withColumn(pcol, expr)
        plural = tr.kind + "s"  # day -> days, matching TRANSFORMS keys
        if plural in cls.TRANSFORMS:
            return df.withColumn(pcol, cls.TRANSFORMS[plural](tr.source))
        raise ValueError(f"unknown partition transform {tr!r}")

    @classmethod
    def _apply_transform(cls, df: DataFrame, spec):
        """Resolve a partition spec — one term ('days(ts)',
        'bucket(16, id)', 'truncate(4, col)', plain column) or a
        multi-term Iceberg-style spec ('days(ts), bucket(16, id)', or a
        list of terms) — to materialized partition columns; returns
        (df, partition_by) where partition_by is the derived column name
        (str, the single-field metadata shape) or a list of names for
        multi-field specs."""
        from apache_iceberg_demo_spark.sources import transforms as T

        trs = T.parse_spec_list(spec)
        for tr in trs:
            df = cls._apply_one_transform(df, tr)
        pcols = [tr.derived for tr in trs]
        if len(pcols) == 1:
            return df, pcols[0]
        return df, pcols

    def _with_derived(self, df: DataFrame, meta: dict) -> DataFrame:
        """Materialize the CURRENT spec's derived partition columns on a
        frame read from the table. Files written before an evolution onto
        a transform lack the derived column entirely (so a read either
        omits it from the declared schema or null-fills it for legacy
        vintages); a copy-on-write rewrite lays its rows out under the
        current spec, so it recomputes them from the SOURCE columns.
        Deterministic re-derivation overwrites any stored copy with the
        same value."""
        spec = meta.get("partition_spec")
        if spec and "(" in str(spec):
            df, _ = self._apply_transform(df, spec)
        return df

    @staticmethod
    def _check_spec_compat(meta: dict, new_spec) -> None:
        """Refuse a spec change that rebinds an EXISTING derived column
        name to a different transform — ``bucket(4, k)`` → ``bucket(8, k)``
        or a truncate width change both derive the same ``k_bucket`` /
        ``k_trunc`` column, so files written under the old width would be
        pruned (natively and by every spec-conformant foreign reader of
        the v2 export) with the NEW width's hash space and silently drop
        matching rows. Historical terms come from the current spec plus
        the recorded spec lineage; unparseable legacy entries are skipped
        (conservative in the other direction — they never BLOCK, the
        runtime pruners never prune what they can't parse). Migration
        path: replace into a NEW table name — spec_history survives
        snapshot expiry, so no in-place migration unblocks the old name."""
        from apache_iceberg_demo_spark.sources import transforms as T

        try:
            new_terms = T.parse_spec_list(new_spec)
        except ValueError:
            return  # create/evolve itself will raise on the bad spec
        if not new_terms:
            return
        old_by_derived: dict[str, str] = {}
        hist_specs = [meta.get("partition_spec")] + [
            h.get("spec") for h in meta.get("spec_history", [])
        ]
        for hs in hist_specs:
            if hs is None:
                continue
            try:
                for t in T.parse_spec_list(hs):
                    old_by_derived.setdefault(t.derived, t.spec_name)
            except ValueError:
                continue
        for t in new_terms:
            old = old_by_derived.get(t.derived)
            if old is not None and old != t.spec_name:
                raise ValueError(
                    f"partition spec change rebinds derived column "
                    f"{t.derived!r} from {old} to {t.spec_name}: files "
                    f"written under the old transform would be pruned in "
                    f"the new transform's space and silently lose rows. "
                    f"Write to a NEW table name (the guard reads "
                    f"spec_history, which snapshot expiry never clears, so "
                    f"no in-place migration can unblock this name)."
                )

    def create_or_replace(
        self,
        name: str,
        df: DataFrame,
        partition_by: Optional[str] = None,
        cluster_by: Optional[list[str]] = None,
    ) -> dict:
        """A5/A6: ``writeTo(t).partitionedBy(c).createOrReplace()`` semantics.

        ``partition_by`` accepts a plain column, an Iceberg-style hidden
        transform — ``days(ts)``, ``months(ts)``, ``years(ts)``, ``hours(ts)``,
        ``bucket(16, key)``, ``truncate(4, col)`` — or a MULTI-FIELD spec
        (``"days(ts), bucket(16, key)"``, Iceberg's
        ``PARTITIONED BY (days(ts), bucket(16, key))``; a list of term
        strings also works). All derived columns are materialized at write
        time and recorded in metadata; multi-field tables store
        ``partition_by`` as a list of derived column names.

        The committed schema is the DataFrame's schema (the reference's
        replace-wins behavior, SURVEY.md §1.3), made explicit here.
        """
        spec = partition_by
        if partition_by is not None:
            df, partition_by = self._apply_transform(df, partition_by)
        if cluster_by:
            # Iceberg sort-order equivalent (the reference's pre-write sort,
            # csv_to_ice.py:27): range-partition + sort within partitions so
            # each data file covers a tight key range — manifest min/max
            # stats then prune aggressively (tested: file-skip selectivity)
            df = df.repartitionByRange(*cluster_by).sortWithinPartitions(*cluster_by)
        meta = self._load_meta(name) if self.exists(name) else None
        if meta is not None:
            self._check_spec_compat(meta, spec)
        parent = meta["current_snapshot_id"] if meta else None
        # a pre-clustered frame (sort-order tables) must keep its range
        # layout — the hash repartition in _write_data would destroy it
        files = self._write_data(
            name, df, meta, parent, partition_by, shuffle=not cluster_by,
            conform=False,
        )
        if meta is None:
            meta = {"table": name, "format_version": 1, "snapshots": []}
        elif meta.get("partition_spec") != spec:
            # spec lineage must survive replaces too: a later evolution /
            # export needs every transform a historical snapshot's files
            # were laid out under (the width-collision guard reads this)
            meta.setdefault("spec_history", []).append(
                {"spec": meta.get("partition_spec"), "until_snapshot_id": parent}
            )
        meta["partition_by"] = partition_by
        meta["partition_spec"] = spec
        # recorded for metadata consumers (Iceberg sort-order export): the
        # pre-write range+sort layout IS the table's declared sort order
        meta["sort_order"] = list(cluster_by) if cluster_by else None
        return self._commit(
            name, "replace", files, df.schema.json(), parent, meta
        )

    def append(
        self,
        name: str,
        df: DataFrame,
        *,
        _parent: Optional[int] = None,
        _advance_current: bool = True,
        _delta_out: Optional[list] = None,
        _snap_extra=None,
    ) -> dict:
        """Snapshot-append: new files + previous snapshot's files stay live.
        Hidden-partition transforms recorded at create time are re-applied to
        the incoming batch (the writer, not the user, owns the derivation).

        Fast-append RETRY (Iceberg's commit loop): an append is commutative
        — its data files don't depend on the base manifest — so on a
        :class:`CommitConflictError` the already-written files are
        re-committed against the freshly-loaded head instead of failing the
        writer. The uuid-suffixed data dir guarantees concurrent appends
        never share a directory, so retries move metadata only. A retry
        onto a head whose field ids changed since the files were written
        (a concurrent schema change) raises the conflict instead.

        ``_parent``/``_advance_current`` are the internal no-isolation-leak
        hooks for branch appends and WAP staging: the commit chains off an
        explicit parent and leaves ``current_snapshot_id`` untouched, so
        concurrent readers can never observe unpublished data through a
        temporarily-redirected main pointer. ``_snap_extra`` is
        ``_commit``'s snapshot edit; it is applied on every retry."""
        meta = self._load_meta(name)
        spec = meta.get("partition_spec")
        if spec and any(
            c not in df.columns
            for c in self._pcols(meta.get("partition_by"))
        ):
            df, _ = self._apply_transform(df, spec)
        parent = meta["current_snapshot_id"] if _parent is None else _parent
        wfids = meta["fids"]
        files = self._write_data(name, df, meta, parent, meta.get("partition_by"))
        if _delta_out is not None:
            # hand the caller this append's OWN manifest delta: branch
            # re-chains need it, and deriving it later by diffing against
            # the old head's manifest breaks if a concurrent
            # expire_snapshots removed that head (ADVICE r08)
            _delta_out.extend(files)
        retries = 5  # Iceberg commit.retry.num-retries-class default (4) + 1 base try
        for attempt in range(retries):
            prev = self._snapshot(meta, parent)
            all_files = prev["manifest"] + files
            try:
                return self._commit(
                    name,
                    "append",
                    all_files,
                    meta["schema"],
                    parent,
                    meta,
                    advance_current=_advance_current,
                    snap_extra=_snap_extra,
                )
            except CommitConflictError:
                if attempt == retries - 1:
                    raise
                meta = self._load_meta(name)
                if meta["fids"] != wfids:
                    raise
                if _parent is None:
                    parent = meta["current_snapshot_id"]

    def rollback_to(self, name: str, snapshot_id: int) -> dict:
        """Iceberg ``rollback_to_snapshot``: a NEW commit whose manifest (and
        schema) is the target snapshot's — the bad commits stay in history
        (auditable, still time-travelable) but readers see the restored
        state. Metadata-only: no data files move or rewrite. The target's
        field ids come back with its schema (a column renamed since binds
        its old files again); ``next_field_id`` stays monotonic. So do the
        target's merge-on-read delete entries, not the current snapshot's:
        the restored state reads exactly as the target did."""
        meta = self._load_meta(name)
        target = self._snapshot(meta, snapshot_id)
        meta["fids"] = dict(target["fids"])
        deletes = [dict(d) for d in target.get("delete_predicates", [])]

        def restore_deletes(s: dict) -> None:
            s.pop("delete_predicates", None)
            if deletes:
                s["delete_predicates"] = deletes

        return self._commit(
            name,
            "rollback",
            list(target["manifest"]),
            target["schema"],
            meta["current_snapshot_id"],
            meta,
            snap_extra=restore_deletes,
        )

    def cherry_pick(self, name: str, snapshot_id: int) -> dict:
        """Iceberg ``cherrypick_snapshot``: re-apply ONE append commit's
        added files onto the current state — the recovery path for a good
        commit stranded on an abandoned line (e.g. it landed after a batch
        that was later rolled back). Append-only, like Iceberg's: the picked
        snapshot's delta must be purely additive."""
        meta = self._load_meta(name)
        picked = self._snapshot(meta, snapshot_id)
        if picked.get("operation") != "append":
            raise ValueError(
                f"cherry-pick supports append snapshots only, "
                f"got {picked.get('operation')!r}"
            )
        parent_of_picked = self._snapshot(meta, picked["parent_id"])
        before = {f["path"] for f in parent_of_picked["manifest"]}
        added = [f for f in picked["manifest"] if f["path"] not in before]
        cur = self._snapshot(meta, meta["current_snapshot_id"])
        live = {f["path"] for f in cur["manifest"]}
        dup = [f["path"] for f in added if f["path"] in live]
        if dup:
            raise ValueError(f"cherry-pick would double-apply files: {dup[:3]}")
        return self._commit(
            name,
            "cherry-pick",
            cur["manifest"] + added,
            meta["schema"],
            meta["current_snapshot_id"],
            meta,
        )

    def evolve_partition_spec(self, name: str, spec: Optional[str]) -> dict:
        """Iceberg partition-spec evolution: a METADATA-ONLY commit — not one
        data file moves. Writes after this commit lay out under the new spec
        (plain column or hidden transform, as in create_or_replace); files
        written under earlier specs stay live with their old layout and scans
        merge both vintages. Row-level ops stay exact across vintages: an
        old-spec file group that holds a matched row is lazily rewritten
        under the current spec, and the other groups carry
        (:meth:`_copy_on_write`).

        At 100 TB this is the feature that lets a table repartition (e.g.
        days(ts) → hours(ts) as volume grows) without a table-sized rewrite —
        the whole point of spec evolution in the Iceberg spec.
        """
        meta = self._load_meta(name)
        self._check_spec_compat(meta, spec)
        parent = meta["current_snapshot_id"]
        prev = self._snapshot(meta, parent)
        if spec is None:
            new_pcol = None
        else:
            from apache_iceberg_demo_spark.sources import transforms as T

            derived = [t.derived for t in T.parse_spec_list(spec)]
            new_pcol = derived[0] if len(derived) == 1 else derived
        meta.setdefault("spec_history", []).append(
            {
                "spec": meta.get("partition_spec") or meta.get("partition_by"),
                "until_snapshot_id": parent,
            }
        )
        meta["partition_by"] = new_pcol
        meta["partition_spec"] = spec
        # carry the manifest untouched — read_incremental already recognizes
        # manifest-identical commits as metadata-only
        return self._commit(
            name,
            "evolve-spec",
            list(prev["manifest"]),
            meta["schema"],
            parent,
            meta,
        )

    def _copy_on_write(self, name: str, operation: str, matched, rewrite) -> dict:
        """The one copy-on-write commit behind DELETE, UPDATE, MERGE and
        SCD2. One scan of the current snapshot (its merge-on-read deletes
        applied, the current spec's derived columns re-derived, ``__file``
        kept) is handed to ``matched``, which returns the rows the op
        changes; the data files holding one are found by file path. Every
        entry whose recorded ``partition`` equals such a file's is touched,
        so a partition is rewritten whole and keeps one file per value. The
        rest carry byte-identical: other partition values, other tuples of
        a multi-field spec, and earlier-spec groups (grouped by their own
        partition dict) without a match. An unpartitioned table is one
        group. ``rewrite(touched, rows)`` turns the touched entries' rows
        into their replacement (``rows`` is the whole scan, for an insert's
        anti-join); it is re-derived, written under the current spec and
        committed beside the carried entries. An empty rewrite adds no
        file."""
        from apache_iceberg_demo_spark.sources.iceberg_v2 import (
            _uri_path_quote,
            file_scope_sql,
        )

        meta = self._load_meta(name)
        parent = meta["current_snapshot_id"]
        prev = self._snapshot(meta, parent)
        rows = self._with_derived(self._scan_files(
            name, meta, prev, prev["manifest"], None,
            prev.get("delete_predicates", []), with_file=True,
        ), meta)
        hit = {r[0] for r in matched(rows).select("__file").distinct().collect()}
        path = {f["path"]: os.path.abspath(self._abs_path(name, f["path"]))
                for f in prev["manifest"]}

        def part(f: dict) -> tuple:
            return tuple(sorted(f["partition"].items()))

        parts = {part(f) for f in prev["manifest"] if _uri_path_quote(path[f["path"]]) in hit}
        touched = [path[f["path"]] for f in prev["manifest"] if part(f) in parts]
        carry = [f for f in prev["manifest"] if part(f) not in parts]
        if carry:
            rows_in = rows.filter(file_scope_sql(touched) if touched else "false")
        else:
            rows_in = rows
        new_rows = self._with_derived(rewrite(rows_in.drop("__file"), rows), meta)
        files = self._write_data(name, new_rows, meta, parent, meta.get("partition_by"))
        for f in files:
            if not f["row_count"]:  # the one file an empty unpartitioned write leaves
                _unlink_if_present(self._abs_path(name, f["path"]))
        return self._commit(
            name, operation, carry + [f for f in files if f["row_count"]],
            meta["schema"], parent, meta,
        )

    def delete_where(self, name: str, predicate: str) -> dict:
        """Row-level DELETE (copy-on-write): rows matching ``predicate`` are
        removed in a new snapshot; NULL predicate results keep the row (SQL
        DELETE semantics). Only the partitions holding a matching row are
        rewritten (:meth:`_copy_on_write`)."""
        hit = f"coalesce(({predicate}), false)"
        return self._copy_on_write(
            name, "delete",
            lambda rows: rows.filter(hit),
            lambda touched, _rows: touched.filter(f"NOT {hit}"),
        )

    def delete_where_mor(self, name: str, predicate: str) -> dict:
        """Row-level DELETE, MERGE-ON-READ (Iceberg v2): a METADATA-ONLY
        commit — no data file is touched; the predicate is recorded as a
        delete entry scoped to the data files live at delete time, and
        ``read()`` applies it as an anti-filter over exactly those files.
        Rows appended AFTER the delete are never affected (file-path
        scoping = the spec's sequence-number rule). The write is O(1) at
        any table size; the cost moves to read amplification until
        ``apply_deletes`` (or any compaction) materializes it — the
        write-heavy/read-heavy trade MoR exists for. The entry keeps the
        schema and field ids its predicate's names bind through.
        """
        meta = self._load_meta(name)
        parent = meta["current_snapshot_id"]
        prev = self._snapshot(meta, parent)
        scope = [f["path"] for f in prev["manifest"]]

        def add_entry(s: dict) -> None:
            s.setdefault("delete_predicates", []).append(
                {"predicate": predicate, "files": scope,
                 "schema": s["schema"], "fids": s["fids"]}
            )

        return self._commit(
            name,
            "delete-mor",
            list(prev["manifest"]),
            meta["schema"],
            parent,
            meta,
            snap_extra=add_entry,
        )

    def apply_deletes(self, name: str) -> dict:
        """Materialize outstanding merge-on-read deletes into data files
        (the compaction that pays the MoR debt): a replace with the
        delete-applied rows, whose new files no entry scopes, so none is
        inherited."""
        meta = self._load_meta(name)
        cur = self._snapshot(meta, meta["current_snapshot_id"])
        if not cur.get("delete_predicates"):
            return cur
        materialized = self.read(name)  # delete-applied view
        return self.create_or_replace(
            name, materialized, partition_by=meta.get("partition_spec"),
            cluster_by=meta.get("sort_order"),
        )

    def update_where(self, name: str, predicate: str, assignments: dict) -> dict:
        """Row-level UPDATE (copy-on-write): SET ``col = sql_expr`` on rows
        matching ``predicate``. The partitions holding a matching row are
        rewritten (:meth:`_copy_on_write`); a row the update moves to
        another partition is written there as a new file beside it."""
        hit = f"coalesce(({predicate}), false)"

        def rewrite(touched: DataFrame, _rows: DataFrame) -> DataFrame:
            # mark matches BEFORE applying assignments: re-evaluating the
            # predicate on updated rows would miss any row the update moved
            # out of the predicate
            out = touched.withColumn("_upd", F.expr(hit))
            for col, expr in assignments.items():
                out = out.withColumn(
                    col, F.when(F.col("_upd"), F.expr(expr)).otherwise(F.col(col))
                )
            return out.drop("_upd")

        return self._copy_on_write(
            name, "update", lambda rows: rows.filter(hit), rewrite
        )

    def tag_snapshot(self, name: str, tag: str, snapshot_id: Optional[int] = None) -> None:
        """Iceberg named ref: pin a human-readable tag to a snapshot id
        (default: current). Tags survive later commits — `read(ref=...)`
        resolves them for release-pinned reads ("train on v1.2 forever")."""
        meta = self._load_meta(name)
        sid = snapshot_id if snapshot_id is not None else meta["current_snapshot_id"]
        self._snapshot(meta, sid)  # must exist
        meta.setdefault("refs", {})[tag] = sid
        self._store_meta(name, meta)

    def resolve_ref(self, name: str, ref: str) -> int:
        meta = self._load_meta(name)
        refs = meta.get("refs", {})
        if ref not in refs:
            raise KeyError(f"table {name!r} has no ref {ref!r} (refs: {sorted(refs)})")
        return refs[ref]

    # ---------- branches (Iceberg v2 named branches) ----------
    #
    # A branch is a MOVABLE named ref: commits land on the branch head while
    # the main pointer (``current_snapshot_id``) stays put — the isolation
    # primitive behind audit branches and multi-commit WAP. Tags pin, branches
    # advance; fast-forward publishes a branch by moving main up its own
    # ancestry line (never a merge — Iceberg branches share the snapshot log).

    def create_branch(
        self, name: str, branch: str, snapshot_id: Optional[int] = None
    ) -> None:
        """Create/reset a named branch at a snapshot (default: current)."""
        meta = self._load_meta(name)
        sid = snapshot_id if snapshot_id is not None else meta["current_snapshot_id"]
        self._snapshot(meta, sid)  # must exist
        meta.setdefault("branches", {})[branch] = sid
        self._store_meta(name, meta)

    def resolve_branch(self, name: str, branch: str) -> int:
        meta = self._load_meta(name)
        branches = meta.get("branches", {})
        if branch not in branches:
            raise KeyError(
                f"table {name!r} has no branch {branch!r} (branches: {sorted(branches)})"
            )
        return branches[branch]

    def append_to_branch(self, name: str, branch: str, df: DataFrame) -> dict:
        """Append a snapshot whose parent is the BRANCH head; the branch
        pointer advances, main does not (readers of the table see nothing).

        Commits directly against the branch head (``_parent`` hook) — the
        old temporarily-point-main-at-the-branch dance let a concurrent
        reader observe unpublished branch data through the redirected main
        pointer, and a concurrent main append chain off the branch."""
        head = self.resolve_branch(name, branch)
        # this append's own files, captured at write time — the re-chain
        # delta must NOT be derived by diffing against the old head's
        # manifest: once a rival advances the branch the old head loses its
        # ref pin, and a concurrent expire_snapshots may leave only an
        # expired_parents stub behind (KeyError + stranded snapshot)
        own_files: list = []
        snap = self.append(
            name, df, _parent=head, _advance_current=False, _delta_out=own_files
        )
        for attempt in range(5):
            meta = self._load_meta(name)
            branches = meta.setdefault("branches", {})
            if branch not in branches:
                raise KeyError(
                    f"table {name!r}: branch {branch!r} dropped while appending"
                )
            cur_head = branches[branch]
            if cur_head != head and cur_head != snap["snapshot_id"]:
                # A rival append advanced the branch between our resolve and
                # this store. Blindly overwriting the pointer would drop the
                # rival's snapshot from the branch lineage (branch-level lost
                # update). Appends are commutative, so RE-CHAIN instead
                # (Iceberg's fast-append retry at the branch level): rebuild
                # our snapshot's cumulative manifest as the new head's
                # manifest + our own delta files, reparent onto the new head,
                # and re-inherit its merge-on-read delete predicates.
                new_head = self._snapshot(meta, cur_head)
                merged = new_head["manifest"] + own_files
                for s in meta["snapshots"]:
                    if s["snapshot_id"] == snap["snapshot_id"]:
                        s["parent_id"] = cur_head
                        s["manifest"] = merged
                        s["summary"] = {
                            "added-files": len(merged),
                            "total-records": sum(f["row_count"] for f in merged),
                        }
                        if new_head.get("delete_predicates"):
                            s["delete_predicates"] = [
                                dict(d) for d in new_head["delete_predicates"]
                            ]
                        else:
                            s.pop("delete_predicates", None)
                        snap = dict(s)
                head = cur_head
            branches[branch] = snap["snapshot_id"]
            try:
                self._store_meta(name, meta)
                return snap
            except CommitConflictError:
                if attempt == 4:
                    raise

    def fast_forward(self, name: str, branch: str) -> dict:
        """Publish a branch: move main to the branch head, allowed only when
        main is an ANCESTOR of that head (true fast-forward; anything else
        means main advanced independently and the branch must rebase)."""
        target = self.resolve_branch(name, branch)
        meta = self._load_meta(name)
        cur = meta["current_snapshot_id"]
        if cur not in self._lineage(meta, target):
            raise ValueError(
                f"cannot fast-forward to branch {branch!r} (head {target}): "
                f"current snapshot {cur} is not an ancestor — rebase the branch"
            )
        tsnap = self._snapshot(meta, target)
        meta["current_snapshot_id"] = target
        meta["schema"] = tsnap["schema"]
        meta["fids"] = dict(tsnap["fids"])
        self._store_meta(name, meta)
        return tsnap

    @staticmethod
    def _lineage(meta: dict, head: int):
        """Snapshot ids from ``head`` back through its parents. Expired
        intermediates keep only a parent pointer (the expire_snapshots
        lineage map); the walk crosses them instead of stopping."""
        by_id = {s["snapshot_id"]: s for s in meta["snapshots"]}
        expired_parents = meta.get("expired_parents", {})
        node: Optional[int] = head
        while node is not None:
            yield node
            if node in by_id:
                node = by_id[node].get("parent_id")
            else:
                node = expired_parents.get(str(node))

    def stage_append(self, name: str, df: DataFrame) -> dict:
        """Write-Audit-Publish step 1 (Iceberg's ``wap.id`` staging): the
        batch is fully written and committed as a snapshot, but the current
        pointer stays on the parent — readers see NOTHING until `publish`.
        The staged snapshot is auditable via ``read(name, snapshot_id=...)``.
        """
        return self.append(
            name, df, _advance_current=False, _snap_extra=lambda s: s.update(staged=True)
        )

    def publish(self, name: str, snapshot_id: int) -> dict:
        """Write-Audit-Publish step 3: atomically advance the current pointer
        to an audited staged snapshot (fast-forward only — the staged
        snapshot's parent must still be current, else the audit ran against
        a stale base and must re-stage)."""
        meta = self._load_meta(name)
        s = self._snapshot(meta, snapshot_id)
        if not s.get("staged"):
            raise ValueError(f"snapshot {snapshot_id} is not staged")
        if s["parent_id"] != meta["current_snapshot_id"]:
            raise ValueError(
                f"cannot publish snapshot {snapshot_id}: its parent "
                f"{s['parent_id']} is no longer current "
                f"({meta['current_snapshot_id']}) — re-stage on the new base"
            )
        s["staged"] = False
        meta["current_snapshot_id"] = snapshot_id
        meta["schema"] = s["schema"]
        self._store_meta(name, meta)
        return s

    # ---------- read paths ----------

    def _snapshot(self, meta: dict, snapshot_id: int) -> dict:
        for s in meta["snapshots"]:
            if s["snapshot_id"] == snapshot_id:
                return s
        raise KeyError(f"snapshot {snapshot_id} not found (expired?)")

    def read(
        self,
        name: str,
        snapshot_id: Optional[int] = None,
        as_of_ms: Optional[int] = None,
        where: Optional[str] = None,
    ) -> DataFrame:
        """A7 scan with time travel + manifest-stats file skipping.

        ``snapshot_id`` / ``as_of_ms`` select the snapshot (VERSION AS OF /
        TIMESTAMP AS OF). ``where`` prunes files on the manifest (partition
        values, min/max stats, hidden-partition transforms), each entry's
        values bound to the snapshot's columns by field id
        (:meth:`_prune_files`), and is applied as a normal pushed filter.
        The snapshot's merge-on-read delete entries apply to exactly the
        files they scope. Whatever the commit
        history, the read is the single scan :meth:`_scan_files` plans.
        """
        meta = self._load_meta(name)
        if snapshot_id is None:
            if as_of_ms is not None:
                live = [s for s in meta["snapshots"] if s["timestamp_ms"] <= as_of_ms]
                if not live:
                    raise KeyError(f"no snapshot at or before {as_of_ms}")
                snapshot_id = live[-1]["snapshot_id"]
            else:
                snapshot_id = meta["current_snapshot_id"]
        snap = self._snapshot(meta, snapshot_id)
        return self._scan_files(
            name, meta, snap, snap["manifest"], where,
            snap.get("delete_predicates", []),
        )

    def read_incremental(
        self,
        name: str,
        from_snapshot_id: int,
        to_snapshot_id: Optional[int] = None,
        where: Optional[str] = None,
    ) -> DataFrame:
        """Iceberg-style incremental read: only the rows ADDED after
        ``from_snapshot_id`` up to ``to_snapshot_id`` (default: current).

        Pure manifest diff — the added files are ``to``'s manifest minus
        ``from``'s, so the scan touches exactly the new data files and never
        re-reads (or diffs) existing data. This is the CDC-consumption path a
        100 TB pipeline needs: each downstream run processes one snapshot
        window at scan cost proportional to the NEW data only. The window is
        ``to``'s ancestry back to ``from``: a ``from`` that is not an
        ancestor of ``to`` (newer, or on another branch) raises. Files
        rewritten by compaction carry existing rows, so (as in Iceberg's
        incremental-append scan) only append commits qualify; replace/rewrite
        snapshots in the window raise instead of double-counting.
        """
        meta = self._load_meta(name)
        if to_snapshot_id is None:
            to_snapshot_id = meta["current_snapshot_id"]
        from_snap = self._snapshot(meta, from_snapshot_id)
        to_snap = self._snapshot(meta, to_snapshot_id)
        by_id = {s["snapshot_id"]: s for s in meta["snapshots"]}
        lineage = list(self._lineage(meta, to_snapshot_id))
        if from_snapshot_id not in lineage:
            raise ValueError(
                f"incremental read: snapshot {from_snapshot_id} is not an "
                f"ancestor of {to_snapshot_id}"
            )
        window = lineage[: lineage.index(from_snapshot_id)]
        for s in (by_id[i] for i in window if i in by_id):
            if s.get("operation", "append") == "append":
                continue
            # metadata-only commits (schema evolution) carry their parent's
            # manifest unchanged — no data files move, nothing double-counts
            parent = by_id.get(s.get("parent_id"))
            if parent is not None and [f["path"] for f in s["manifest"]] == [
                f["path"] for f in parent["manifest"]
            ]:
                continue
            raise ValueError(
                f"incremental read across non-append snapshot "
                f"{s['snapshot_id']} ({s.get('operation')!r}) would "
                "double-count rewritten rows"
            )
        seen = {f["path"] for f in from_snap["manifest"]}
        added = [f for f in to_snap["manifest"] if f["path"] not in seen]
        return self._scan_files(name, meta, to_snap, added, where)

    def _scan_files(
        self,
        name: str,
        meta: dict,
        snap: dict,
        files: list[dict],
        where: Optional[str],
        deletes: list[dict] = (),
        removed: bool = False,
        with_file: bool = False,
    ) -> DataFrame:
        """The one scan behind every native read of ``files`` as of ``snap``
        (whose schema is authoritative: time travel reads the old schema).
        Columns bind by field id through the ``fids`` each manifest entry
        was written under, so renames follow identity and a column added
        later or dropped-then-re-added reads NULL over older files, whatever
        snapshots have expired. Partition columns are no exception: each
        file holds a copy (``_write_data``), so the manifest's partition
        values only prune (:meth:`_prune_files`, bound by id alike). Files
        that bind alike share one parquet scan with a read schema from
        metadata: a table without schema evolution is ONE FileScan. A
        merge-on-read delete binds its names through the ``schema`` and
        ``fids`` it was recorded with; one whose scope covers every scanned
        file applies as ``NOT coalesce(pred, false)``, and one scoping some
        of them as ``NOT (__file IN (scope) AND coalesce(pred, false))`` on
        the scan's file key, its scope paths URI-quoted as
        ``_metadata.file_path`` renders them: a filter, no join.
        ``with_file=True`` keeps that key as ``__file`` beside the columns;
        ``removed=True`` returns the deleted rows instead, with ``__file``
        and ``__pos``.
        """
        from apache_iceberg_demo_spark.sources.iceberg_v2 import (
            FILE_KEY_SQL,
            file_scope_sql,
            scan_parquet_files,
        )

        declared = self._declared_schema(snap)
        keys = [StructField("__file", StringType())] if with_file or removed else []
        keys += [StructField("__pos", LongType())] if removed else []
        if where is not None:
            files = self._prune_files(meta, snap, files, where)
        if not files:
            # the everything-pruned and the empty-manifest case (ADVICE r01)
            return self.spark.createDataFrame(
                [], schema=StructType(declared.fields + keys)
            )
        # (column, type, field id): the declared columns, then any field a
        # delete predicate names that no declared column carries
        cols = [(x.name, x.dataType, snap["fids"][x.name]) for x in declared.fields]
        by_fid = {fid: c for c, _, fid in cols}
        paths = [os.path.abspath(self._abs_path(name, f["path"])) for f in files]
        # (predicate, {predicate name: column}, the scanned paths in scope,
        # or None for a scope covering every scanned file)
        scoped = []
        for d in deletes:
            scope = set(d["files"])
            in_scope = [p for p, f in zip(paths, files) if f["path"] in scope]
            if not in_scope:
                continue
            names = {}
            for x in self._declared_schema(d).fields:
                fid = d["fids"][x.name]
                if fid not in by_fid:
                    by_fid[fid] = f"__field_{fid}"
                    cols.append((by_fid[fid], x.dataType, fid))
                names[x.name] = by_fid[fid]
            if len(in_scope) == len(files):
                in_scope = None
            scoped.append((d["predicate"], names, in_scope))
        types = {c: t for c, t, _ in cols}
        # Every column goes under a hidden name until the last projection,
        # so each delete predicate can see its own names beside them. A
        # column a file does not hold binds to its hidden name, which no
        # file holds either: the parquet scan reads it as a typed NULL.
        hidden = {c: f"__v{j}" for j, c in enumerate(types)}
        groups: dict[tuple, list[str]] = {}
        for path, f in zip(paths, files):
            inv = {fid: c for c, fid in f["fids"].items()}
            key = tuple((c, inv.get(fid, hidden[c])) for c, _, fid in cols)
            groups.setdefault(key, []).append(path)
        # The projections are SQL strings: each Column-API call is several
        # Py4J round trips, and a 16-column read with one delete made ~1,600
        # of them before its first job.
        file_key = bool(keys) or any(s is not None for _, _, s in scoped)
        df = None
        for key, group in groups.items():
            part = scan_parquet_files(
                self.spark, group,
                StructType([StructField(src, types[c]) for c, src in key]),
            ).selectExpr(
                *[f"{_quote(src)} AS {hidden[c]}" for c, src in key],
                *([FILE_KEY_SQL] if file_key else []),
                *(["_metadata.row_index AS __pos"] if removed else []),
            )
            df = part if df is None else df.unionByName(part)
        for pred, names, in_scope in scoped:
            hit = f"coalesce(({pred}), false)"
            if in_scope is not None:
                hit = f"{file_scope_sql(in_scope)} AND {hit}"
            df = df.selectExpr(
                "*", *[f"{hidden[c]} AS {_quote(n)}" for n, c in names.items()]
            ).filter(hit if removed else f"NOT ({hit})").drop(*names)
        df = df.selectExpr(
            *[f"{hidden[x.name]} AS {_quote(x.name)}" for x in declared.fields],
            *[k.name for k in keys],
        )
        return df.filter(where) if where is not None else df

    @staticmethod
    def _declared_schema(meta_or_snap: dict):
        return StructType.fromJson(json.loads(meta_or_snap["schema"]))

    def _prune_files(
        self, meta: dict, snap: dict, files: list[dict], where: str
    ) -> list[dict]:
        """The entries of ``files`` that ``where`` may match as of ``snap``.
        Each entry's view binds its ``stats`` and ``partition`` keys through
        the entry's own ``fids`` (a partition value through its in-file
        copy's id) to ``snap``'s column names; an id ``snap``'s schema lacks
        drops out, so a renamed, dropped or re-added column never prunes on
        another column's values. :meth:`_can_skip` decides on the view, and
        the table spec's hidden transforms prune through the spec reader's
        ``_transform_skip``. Plain dicts: no Spark call per entry."""
        from apache_iceberg_demo_spark.sources import transforms as T
        from apache_iceberg_demo_spark.sources.iceberg_v2 import (
            _SPARK_TO_ICEBERG,
            _transform_skip,
        )

        fids = snap["fids"]
        fields = {
            fids[x.name]: {
                "name": x.name,
                "type": _SPARK_TO_ICEBERG.get(
                    x.dataType.simpleString(), x.dataType.simpleString()
                ),
            }
            for x in self._declared_schema(snap).fields
            if x.name in fids
        }
        name_of = {fid: fld["name"] for fid, fld in fields.items()}
        spec_fields = [
            {"name": tr.derived, "transform": tr.spec_name,
             "source-id": fids[tr.source]}
            for tr in T.parse_spec_list(meta.get("partition_spec"))
            if tr.kind != "identity" and tr.source in fids
        ]
        conjuncts = T.simple_conjuncts(where) if spec_fields else []
        kept = []
        for f in files:
            ids = f["fids"]
            view = {
                "partition": {
                    name_of[i]: v for k, v in f["partition"].items()
                    if (i := ids.get(_part_copy(k))) in name_of
                },
                "stats": {
                    name_of[i]: st for k, st in f["stats"].items()
                    if (i := ids.get(k)) in name_of
                },
            }

            # a file's transformed partition value is a point range, found
            # by the term's derived name (a spec evolved onto a transform
            # gives that column no field id). The file derived it from its
            # column of the source's name, so it binds only while that
            # column carries the source's id
            def _point(pf, tr, src_type, f=f):
                if f["fids"].get(tr.source) != pf["source-id"]:
                    return None
                try:
                    tv = T.partition_value_to_spec(
                        tr, f["partition"].get(pf["name"]), src_type
                    )
                except (ValueError, TypeError):
                    return None
                return None if tv is None else (tv, tv)

            if not (
                self._can_skip(view, where)
                or _transform_skip(spec_fields, fields, conjuncts, _point)
            ):
                kept.append(f)
        return kept

    @staticmethod
    def _can_skip(view: dict, where: str) -> bool:
        """The one file pruner: True iff no row of the file (or manifest)
        ``view`` describes can match ``where``. The view is name-keyed and
        bound by field id by its builder (:meth:`_prune_files`, the spec
        reader): ``partition`` (identity or derived partition values),
        ``stats`` (``[min, max]``) and optionally ``nulls`` (``(null count,
        value count or None)``). Recognized: ``col op literal``, BETWEEN,
        ``col IS [NOT] NULL`` and AND-conjunctions of those. Anything else
        never skips (correctness first); in a conjunction, ONE provably
        disjoint conjunct suffices."""
        from apache_iceberg_demo_spark.sources.transforms import (
            exact_number,
            split_and_conjuncts,
        )

        # shared mask-aware tokenizer (transforms.split_and_conjuncts):
        # any top-level OR disables skipping (the AND split has no
        # precedence awareness — ADVICE r11), quoted literals are masked
        # so data containing " OR " / " AND x = 5 " can neither trip the
        # guard nor FABRICATE a conjunct, and BETWEEN expands to its
        # inequality pair before the split.
        parts = split_and_conjuncts(where)
        if parts is None:
            return False
        if len(parts) > 1:
            return any(Warehouse._can_skip(view, p) for p in parts)
        where = parts[0]
        # IS [NOT] NULL against a partition VALUE is exact either way: an
        # identity (or derived-transform) partition value of None means
        # every row is NULL for that column, non-None means no row is —
        # so IS NULL skips non-null partitions and IS NOT NULL skips the
        # null partition (r14). Other columns skip only on null counts:
        # min/max stats carry no null evidence.
        m0 = re.fullmatch(
            r"\s*(\w+)\s+IS\s+(NOT\s+)?NULL\s*", where, re.IGNORECASE
        )
        if m0:
            col, is_not = m0.group(1), bool(m0.group(2))
            if col in view["partition"]:
                pv0 = view["partition"][col]
                return (pv0 is None) if is_not else (pv0 is not None)
            nulls, values = view.get("nulls", {}).get(col, (None, None))
            if is_not:
                return nulls is not None and nulls == values
            return nulls == 0
        m = re.fullmatch(
            r"\s*(\w+)\s*(<=|>=|<|>|=|==)\s*('([^']*)'|[-0-9.]+)\s*", where
        )
        if not m:
            return False
        col, op, raw, s_lit = m.group(1), m.group(2), m.group(3), m.group(4)
        if s_lit is not None:
            lit: object = s_lit
        else:
            # [-0-9.]+ admits junk like `1.2.3` or a bare `-`: never skip
            # on it, never crash the read (ADVICE r12 class). Integral
            # literals parse as EXACT ints: float()-ing an int64 >= 2^53
            # collapses neighbors, and a strict < / > against a collapsed
            # pair WRONGLY SKIPS a file holding matching rows (r14).
            lit = exact_number(raw)
            if lit is None:
                return False
        # partition-value pruning first (exact)
        if col in view["partition"]:
            pv: object = view["partition"][col]
            if pv is None:
                # a null partition value means EVERY row in the file has
                # NULL for this column — no comparison predicate can
                # match (SQL three-valued logic), so the file skips
                return True
            if s_lit is None:
                # non-numeric stored value vs numeric literal (e.g. a
                # "1995-03" month dir): incomparable — keep the file.
                # Numeric dirs parse exactly (int64 dirs ≥ 2^53 float-
                # collapsed pre-r14 and could wrongly skip).
                pv = exact_number(pv)
                if pv is None:
                    return False
            return not _cmp_holds(pv, op, lit, pv, pv)
        st = view["stats"].get(col)
        if not st:
            return False
        mn, mx = st
        # decimal stats carry a typed marker (or arrive as live Decimals
        # from decoded v2 bounds): compare EXACTLY in decimal space — a
        # float round-trip could narrow the range by an ulp and wrongly
        # skip, a string compare is lexicographic ('10.0' < '9.0')
        dmn, dmx = _decimal_stat_value(mn), _decimal_stat_value(mx)
        if dmn is not None and dmx is not None:
            try:
                dlit = decimal.Decimal(s_lit if s_lit is not None else raw)
            except decimal.InvalidOperation:
                return False
            return not _cmp_holds(None, op, dlit, dmn, dmx)
        if s_lit is None and isinstance(mn, (int, float)):
            # native int/float comparison is exact — float()-ing int64
            # stats collapsed neighbors above 2^53 (wrong skip, r14)
            return not _cmp_holds(None, op, lit, mn, mx)
        if s_lit is not None and isinstance(mn, str):
            return not _cmp_holds(None, op, lit, mn, mx)
        return False

    # ---------- metadata tables (C6) ----------

    def snapshots(self, name: str) -> DataFrame:
        """Iceberg's ``<table>.snapshots`` metadata table."""
        meta = self._load_meta(name)
        rows = [
            (
                s["snapshot_id"],
                s["parent_id"],
                s["timestamp_ms"],
                s["operation"],
                s["summary"]["total-records"],
                len(s["manifest"]),
            )
            for s in meta["snapshots"]
        ]
        return self.spark.createDataFrame(
            rows,
            "snapshot_id bigint, parent_id bigint, timestamp_ms bigint, "
            "operation string, total_records bigint, n_files bigint",
        )

    def files(self, name: str, snapshot_id: Optional[int] = None) -> DataFrame:
        """Iceberg's ``<table>.files`` metadata table (current snapshot)."""
        meta = self._load_meta(name)
        snap = self._snapshot(meta, snapshot_id or meta["current_snapshot_id"])
        rows = [
            (f["path"], f["size_bytes"], f["row_count"], json.dumps(f["partition"]))
            for f in snap["manifest"]
        ]
        return self.spark.createDataFrame(
            rows, "file_path string, size_bytes bigint, row_count bigint, partition string"
        )

    def history(self, name: str) -> DataFrame:
        """Iceberg's ``<table>.history`` — snapshot lineage."""
        meta = self._load_meta(name)
        cur = meta["current_snapshot_id"]
        rows = [
            (s["timestamp_ms"], s["snapshot_id"], s["parent_id"], s["snapshot_id"] == cur)
            for s in meta["snapshots"]
        ]
        return self.spark.createDataFrame(
            rows,
            "made_current_at_ms bigint, snapshot_id bigint, parent_id bigint, "
            "is_current boolean",
        )

    # ---------- maintenance (C6) ----------

    def expire_snapshots(
        self,
        name: str,
        keep_last: int = 1,
        retain_refs: bool = True,
        older_than_ms: Optional[int] = None,
    ) -> int:
        """Drop expired snapshots; GC unreferenced files. Two retention
        policies compose exactly like Iceberg's ``expire_snapshots``:
        ``keep_last`` N snapshots always survive, and with
        ``older_than_ms`` set, any snapshot committed at-or-after that
        timestamp ALSO survives (only strictly-older history is eligible).
        The CURRENT snapshot and any snapshot pinned by a named ref
        (tag/branch) are never expired — release-pinned training corpora
        stay readable while routine history is garbage-collected around
        them."""
        meta = self._load_meta(name)
        keep_ids = {s["snapshot_id"] for s in meta["snapshots"][-keep_last:]}
        if older_than_ms is not None:
            keep_ids |= {
                s["snapshot_id"]
                for s in meta["snapshots"]
                if s["timestamp_ms"] >= older_than_ms
            }
        keep_ids.add(meta["current_snapshot_id"])
        if retain_refs:
            keep_ids |= set(meta.get("refs", {}).values())
            keep_ids |= set(meta.get("branches", {}).values())
        keep = [s for s in meta["snapshots"] if s["snapshot_id"] in keep_ids]
        expired = [s for s in meta["snapshots"] if s["snapshot_id"] not in keep_ids]
        # Preserve ancestry across GC: fast_forward validates "main is an
        # ancestor of the branch head" by walking parent links, and a
        # retained branch head may descend from expired intermediates. Data
        # files go, but the parent pointer of every expired snapshot is kept
        # (JSON keys are strings — meta roundtrips through json.dump).
        lineage = meta.setdefault("expired_parents", {})
        for s in expired:
            lineage[str(s["snapshot_id"])] = s.get("parent_id")
        live_paths = {
            self._abs_path(name, f["path"]) for s in keep for f in s["manifest"]
        }
        # COMMIT FIRST, delete after (Iceberg's expire order): a crash — or
        # a CommitConflictError from a concurrent writer — before the store
        # must leave only extra files on disk (orphans, cleaned by
        # remove_orphan_files), never committed metadata that references
        # already-deleted files (broken time travel).
        meta["snapshots"] = keep
        self._store_meta(name, meta)
        removed = 0
        for s in expired:
            for f in s["manifest"]:
                path = self._abs_path(name, f["path"])
                if path not in live_paths and os.path.exists(path):
                    os.remove(path)
                    removed += 1
        # drop now-empty snapshot dirs
        data_root = os.path.join(self._table_dir(name), "data")
        if os.path.isdir(data_root):
            for d in os.listdir(data_root):
                full = os.path.join(data_root, d)
                if os.path.isdir(full) and not any(
                    fn.endswith(".parquet") for _, _, fs in os.walk(full) for fn in fs
                ):
                    shutil.rmtree(full)
        return removed

    def remove_orphan_files(self, name: str, min_age_s: float = 0.0) -> int:
        """Iceberg ``remove_orphan_files``: delete data files under the table
        location that NO snapshot references — the debris of failed/aborted
        writes (a task wrote its file, the commit never happened) and the
        metadata temp files of writers that died before their commit.
        Distinct from ``expire_snapshots``, which GCs files of *known*
        dropped snapshots; orphans are unknown to the metadata entirely, so
        the scan is location-driven: walk the table dir, keep what any
        manifest claims, remove the rest.

        ``min_age_s`` is Iceberg's ``older_than`` safety valve (its default
        is 3 DAYS): a concurrent writer's files are unreferenced between
        its data write and its commit, so production GC must only remove
        files older than any plausible in-flight write. 0 here keeps the
        demo deterministic — pass a real age when writers may be live."""
        meta = self._load_meta(name)
        live = {
            os.path.realpath(self._abs_path(name, f["path"]))
            for s in meta["snapshots"]
            for f in s["manifest"]
        }
        removed = 0
        cutoff = time.time() - min_age_s
        for dirpath, _dirs, files in os.walk(self._table_dir(name)):
            for fn in files:
                path = os.path.join(dirpath, fn)
                dead = fn.endswith(".tmp") or (
                    fn.endswith(".parquet") and os.path.realpath(path) not in live
                )
                if dead and os.path.getmtime(path) <= cutoff:
                    os.remove(path)
                    removed += 1
        return removed

    # ---------- schema evolution (C6) ----------
    #
    # Iceberg's headline metadata capability: ALTER TABLE add/rename/drop is
    # a METADATA-ONLY commit — no data file is rewritten; every snapshot
    # carries its own schema and field ids, so time travel across an
    # evolution reads each snapshot with the schema it was committed under.
    # As in the Iceberg spec, columns bind by field id: every data file's
    # manifest entry records the ids its physical column names carry.

    def _evolve(self, name: str, operation: str, mutate, meta_extra=None) -> dict:
        """Commit a metadata-only schema change: same manifest, new schema.

        ``meta_extra(meta)``, when given, applies companion metadata edits
        (spec string follow-on-rename, sort-order maintenance) INSIDE the
        same commit — a crash can never strand the schema renamed but the
        spec/sort-order pointing at the old name (r14 review: the old
        three-separate-stores shape left exactly that window)."""
        meta = self._load_meta(name)
        fids = dict(meta["fids"])
        new_schema = mutate(self._declared_schema(meta), fids)
        parent = meta["current_snapshot_id"]
        prev = self._snapshot(meta, parent)
        # mutators own the fid bookkeeping: rename moves the id to the new
        # logical name (reads keep binding old files by identity), drop
        # retires it (a re-added name gets a FRESH id in _commit, so old
        # values stay dead). _commit only ever assigns ids to unseen names.
        meta["fids"] = fids
        if meta_extra is not None:
            meta_extra(meta)
        return self._commit(
            name, operation, prev["manifest"], new_schema.json(), parent, meta,
        )

    def add_column(self, name: str, col: str, dtype: str) -> dict:
        """ALTER TABLE ADD COLUMN — existing files read the new column as
        NULL; no rewrite."""

        def mutate(schema: StructType, _fids: dict) -> StructType:
            if col in schema.fieldNames():
                raise ValueError(f"column {col!r} already exists")
            added = StructType.fromDDL(f"`{col}` {dtype}").fields[0]
            return StructType(schema.fields + [StructField(col, added.dataType, True)])

        return self._evolve(name, "add-column", mutate)

    def rename_column(self, name: str, old: str, new: str) -> dict:
        """ALTER TABLE RENAME COLUMN — metadata-only; old files keep the old
        physical name, bound on read through their entries' field ids.

        Renaming the SOURCE column of a hidden (non-identity) partition
        transform auto-evolves the spec string onto the new name (Iceberg
        binds specs by field id, so renames are transparent there; our
        spec strings bind by name, so the string follows the rename). The
        old derived column's files become an earlier-spec vintage, which
        every path already treats conservatively (legacy rewrite on
        row-level ops, no transformed-space prune, identity export).
        Renaming a DERIVED partition column — including an IDENTITY
        partition column, whose name is its own derived name — is refused:
        the name is baked into the on-disk hive layout (``col=value``
        dirs) and the spec string. ADVICE r13: the old ``"(" in spec`` gate
        silently stranded plain identity specs on the old name (every later
        append crashed); evolve the spec or write to a new table instead."""
        from apache_iceberg_demo_spark.sources import transforms as T

        meta0 = self._load_meta(name)
        cur_spec = meta0.get("partition_spec")
        try:
            terms = T.parse_spec_list(cur_spec)
        except ValueError:
            terms = []  # unparseable legacy spec — never blocks
        if any(t.derived == old for t in terms):
            raise ValueError(
                f"cannot rename {old!r}: it is a partition column of the "
                f"current partition spec {cur_spec!r} (the name is baked "
                f"into the data layout) — evolve_partition_spec instead"
            )

        def mutate(schema: StructType, fids: dict) -> StructType:
            if old not in schema.fieldNames():
                raise ValueError(f"column {old!r} not found")
            if new in schema.fieldNames():
                raise ValueError(f"column {new!r} already exists")
            fids[new] = fids.pop(old)
            return StructType(
                [
                    StructField(new, f.dataType, f.nullable) if f.name == old else f
                    for f in schema.fields
                ]
            )

        def meta_extra(meta: dict) -> None:
            # applied INSIDE the rename commit — atomic with the schema
            # change (r14 review: a crash between separate stores stranded
            # the spec/sort-order on the old name)
            if old in (meta.get("sort_order") or []):
                # the declared sort order follows the rename (Iceberg
                # binds sort orders by field id; our list binds by name —
                # r14: a stale name silently DROPPED the field from the
                # v2 export)
                meta["sort_order"] = [
                    new if c == old else c for c in meta["sort_order"]
                ]
            if any(t.source == old for t in terms):
                # follow the rename in the spec string: the transform's
                # identity (source id) is unchanged, only our name-based
                # binding moves — appends keep deriving, new derived name.
                # current_snapshot_id is still the PARENT here (pre-
                # commit), matching create_or_replace's spec_history form.
                meta.setdefault("spec_history", []).append(
                    {
                        "spec": cur_spec,
                        "until_snapshot_id": meta["current_snapshot_id"],
                    }
                )
                new_terms = [
                    T.Transform(t.kind, new, t.param, "")
                    if t.source == old
                    else t
                    for t in terms
                ]
                new_spec = ", ".join(T.term_str(t) for t in new_terms)
                derived = [t.derived for t in T.parse_spec_list(new_spec)]
                meta["partition_spec"] = new_spec
                meta["partition_by"] = (
                    derived[0] if len(derived) == 1 else derived
                )

        return self._evolve(name, "rename-column", mutate, meta_extra)

    def drop_column(self, name: str, col: str) -> dict:
        """ALTER TABLE DROP COLUMN — metadata-only; the physical column stays
        in old files but is projected away (and column-pruned at scan).
        Dropping the SOURCE column of ANY current-spec term — identity
        terms and plain (paren-less) identity specs included — is refused
        (Iceberg's rule: a spec may not reference a dropped column;
        writers could no longer derive the partition value, so every
        later append would crash. ADVICE r13: the old guard only covered
        non-identity transform sources); dropping a non-identity DERIVED
        partition column merely hides it from reads (writers re-derive
        it from the source)."""
        from apache_iceberg_demo_spark.sources import transforms as T

        cur_spec = self._load_meta(name).get("partition_spec")
        try:
            terms = T.parse_spec_list(cur_spec)
        except ValueError:
            terms = []  # unparseable legacy spec — never blocks
        if any(t.source == col for t in terms):
            raise ValueError(
                f"cannot drop {col!r}: it is a source column of the "
                f"current partition spec {cur_spec!r} — evolve the "
                f"spec off it first"
            )

        def mutate(schema: StructType, fids: dict) -> StructType:
            if col not in schema.fieldNames():
                raise ValueError(f"column {col!r} not found")
            fids.pop(col)
            return StructType([f for f in schema.fields if f.name != col])

        def meta_extra(meta: dict) -> None:
            if col in (meta.get("sort_order") or []):
                # a dropped column leaves the declared sort order (Java
                # replaces the order; keeping the stale name would
                # silently omit it from exports anyway — record the
                # truth instead), atomically with the drop commit
                meta["sort_order"] = [
                    c for c in meta["sort_order"] if c != col
                ] or None

        return self._evolve(name, "drop-column", mutate, meta_extra)

    def merge_into(
        self,
        name: str,
        source: DataFrame,
        on: list[str],
        when_matched_update: bool = True,
        when_not_matched_insert: bool = True,
    ) -> dict:
        """MERGE INTO (upsert) — Iceberg/Delta's row-level write, emulated on
        the snapshot format through :meth:`_copy_on_write`:

        - matched + update: source row replaces the target row
        - matched + no-update: target row kept (source matched rows dropped)
        - not-matched + insert: source row appended

        A target row whose key is in ``source`` matches when matched rows
        update; the partitions holding one are rewritten as their unmatched
        rows plus the admitted source rows, and every other entry carries
        byte-identical. An insert-only merge matches nothing, so it touches
        no file: the new rows land in new files. One shuffle on the merge
        keys (the semi and anti joins).
        """
        meta = self._load_meta(name)
        if not (when_matched_update or when_not_matched_insert):
            return self._snapshot(meta, meta["current_snapshot_id"])
        pcols = self._pcols(meta.get("partition_by"))
        spec = meta.get("partition_spec") or meta.get("partition_by")
        src = source
        if any(c not in src.columns for c in pcols):
            # re-derive the hidden-transform partition columns on the source
            # (the writer owns the derivation, ADVICE r01)
            src, _ = self._apply_transform(src, spec)
            missing = [c for c in pcols if c not in src.columns]
            if missing:
                raise ValueError(
                    f"merge source lacks partition column(s) {missing!r} and "
                    f"spec {spec!r} cannot derive them from the source columns"
                )
        keys = src.select(*on).dropDuplicates(on)

        def matched(rows: DataFrame) -> DataFrame:
            if not when_matched_update:
                return rows.filter("false")
            return rows.join(keys, on=on, how="left_semi")

        def rewrite(touched: DataFrame, rows: DataFrame) -> DataFrame:
            s = src.select(*[c for c in touched.columns if c in src.columns])
            if not when_matched_update:  # nothing touched: the inserts only
                return s.join(rows.select(*on).dropDuplicates(on), on=on, how="left_anti")
            kept = touched.join(keys, on=on, how="left_anti")
            if not when_not_matched_insert:
                s = s.join(touched.select(*on).dropDuplicates(on), on=on, how="left_semi")
            return kept.unionByName(s)

        return self._copy_on_write(name, "merge", matched, rewrite)

    def apply_scd2(
        self, name: str, changes: DataFrame, key: list[str], effective_ts_col: str
    ) -> dict:
        """Slowly-changing-dimension type 2 over the snapshot format: history
        is kept as validity intervals, not overwritten.

        The table carries ``valid_from`` / ``valid_to`` (NULL = current).
        For each change row: the key's current version is *closed*
        (``valid_to`` = the change's effective timestamp) and a new current
        version is inserted. Non-changed keys pass through untouched.

        A copy-on-write commit (:meth:`_copy_on_write`): the current rows of
        changed keys match, and the partitions holding one are rewritten
        with those rows closed; the new versions are written beside them.
        """
        eff = F.col(effective_ts_col)
        new_versions = self._with_derived(
            changes.withColumn("valid_from", eff)
            .withColumn("valid_to", F.lit(None).cast("timestamp"))
            .drop(effective_ts_col),
            self._load_meta(name),
        )
        change_keys = changes.select(*key, eff.alias("_eff")).dropDuplicates(key)

        def matched(rows: DataFrame) -> DataFrame:
            return rows.filter(F.col("valid_to").isNull()).join(
                change_keys.select(*key), on=key, how="left_semi"
            )

        def rewrite(touched: DataFrame, _rows: DataFrame) -> DataFrame:
            # a current row of a changed key closes at the change's
            # timestamp; history rows keep their valid_to
            closed = touched.join(change_keys, on=key, how="left").select(*[
                F.coalesce("valid_to", "_eff").alias(c) if c == "valid_to" else c
                for c in touched.columns
            ])
            return closed.unionByName(new_versions.select(*touched.columns))

        return self._copy_on_write(name, "scd2", matched, rewrite)

    def rewrite_data_files(self, name: str, target_file_mb: int = 128) -> dict:
        """Bin-packing compaction (Iceberg ``rewrite_data_files``): coalesce
        the current snapshot's files toward ``target_file_mb`` and commit a
        new replace snapshot with identical data."""
        meta = self._load_meta(name)
        snap = self._snapshot(meta, meta["current_snapshot_id"])
        total_bytes = sum(f["size_bytes"] for f in snap["manifest"])
        n_out = max(1, round(total_bytes / (target_file_mb * 1024 * 1024)))
        df = self.read(name)
        part_by = meta.get("partition_by")
        if part_by:
            # partitioned tables: _write_data's partition-column repartition
            # already yields ~1 file per partition dir (the bin-packed form
            # for a partitioned table); a second n_out repartition here would
            # just add a redundant shuffle
            pass
        else:
            df = df.repartition(n_out)
        # pass the ORIGINAL spec (not the derived column name) so the
        # hidden-transform metadata survives the compaction commit and later
        # appends still re-derive the partition column (ADVICE r01)
        return self.create_or_replace(
            name, df, partition_by=meta.get("partition_spec") or part_by,
            cluster_by=meta.get("sort_order"),
        )


def _decimal_raw_stats(md, ci: int, st):
    """Exact decimal min/max from a parquet column chunk whose statistics
    pyarrow refuses to cast: the raw unscaled value (int for INT32/INT64
    storage, big-endian two's-complement bytes for FIXED_LEN_BYTE_ARRAY)
    scaled by the schema's decimal scale. Returns ``(Decimal, Decimal)``
    or None for non-decimal logical types (their optional stats are
    simply skipped)."""
    try:
        lt = json.loads(md.schema.column(ci).logical_type.to_json())
    except Exception:
        return None
    if lt.get("Type") != "Decimal":
        return None
    scale = int(lt.get("scale", 0))

    def _unscaled(b):
        if isinstance(b, bytes):
            return int.from_bytes(b, "big", signed=True)
        return int(b)

    try:
        return (
            decimal.Decimal(_unscaled(st.min_raw)).scaleb(-scale),
            decimal.Decimal(_unscaled(st.max_raw)).scaleb(-scale),
        )
    except Exception:
        return None


def _decimal_stat_value(v):
    """Decode a stats cell into a Decimal if it carries one: the JSON
    manifest marker ``{"dec": "..."}`` or a live Decimal (the reader's
    decoded v2 bounds). None otherwise."""
    if isinstance(v, decimal.Decimal):
        return v
    if isinstance(v, dict) and "dec" in v:
        try:
            return decimal.Decimal(v["dec"])
        except decimal.InvalidOperation:
            return None
    return None


def _cmp_holds(_v, op: str, lit, mn, mx) -> bool:
    """Can any value in [mn, mx] satisfy `value op lit`?"""
    if op in ("=", "=="):
        return mn <= lit <= mx
    if op == "<":
        return mn < lit
    if op == "<=":
        return mn <= lit
    if op == ">":
        return mx > lit
    if op == ">=":
        return mx >= lit
    return True


# ---------- registered metadata-operation queries (rows-only checks) ----------

from apache_iceberg_demo_spark.registry import register  # noqa: E402


def _content_hash(df: DataFrame) -> tuple[int, str]:
    """Order-insensitive content fingerprint: (row count, xor+sum of per-row
    xxhash64 over all columns, column-name-sorted). Lets the rows-only C6
    checks assert "same data" across snapshots/rewrites without collecting
    rows (VERDICT r04 item 8). DECIMAL sum — bigint sum of 2^63-scale hashes
    overflows, and Spark 4 ANSI mode makes that an error, not a wrap."""
    cols = [F.col(c).cast("string") for c in sorted(df.columns)]
    h = df.select(F.xxhash64(*cols).alias("h"))
    row = h.agg(
        F.count("*").alias("n"),
        F.expr("bit_xor(h)").alias("x"),
        F.sum(F.col("h").cast("decimal(38,0)")).alias("s"),
    ).collect()[0]
    return int(row["n"]), f"{row['x']}:{row['s']}"


def _check(cond: bool, msg: str) -> None:
    """Self-verifying invariant inside a registered rows-only query: a
    violated table-format guarantee fails the query outright instead of
    returning plausible-looking rows."""
    if not cond:
        raise AssertionError(f"C6 invariant violated: {msg}")


_demo_cache: dict[tuple[str, str], tuple["Warehouse", str]] = {}


def _demo_warehouse(
    spark: SparkSession, sf_dir: str, mutable: bool = False
) -> tuple["Warehouse", str]:
    """Build a demo warehouse with 2 snapshots of lineitem (replace+append).

    Read-only callers share one instance per (session, sf_dir) — the build
    costs several write jobs + a manifest walk, and four registered queries
    need it. Callers that COMMIT (compaction, merge) pass ``mutable=True``
    and get a private copy so the shared snapshots stay stable.

    The subset filter is DETERMINISTIC (``l_orderkey % 20 = 0``, ~5% of the
    table — ~3000 rows at sf0.01), never a ``limit(n)``: a relationally
    defined content set is what lets the c6 queries built on this fixture
    carry real DuckDB oracles (r06 closed-form pattern) instead of
    rows-only checks.

    Mutable copies are a ``copytree`` of the shared instance, not a
    re-build: manifest paths are table-root-relative (the A8 relocatability
    property, proven by ``a8_relocated_warehouse_scan``), so a directory
    copy IS a fully independent warehouse — ~10 committing c6 queries each
    save the multi-job Spark write this way."""
    from apache_iceberg_demo_spark.io import load, scratch_dir

    key = (str(id(spark)), sf_dir)
    if key not in _demo_cache:
        tmp = scratch_dir("wh_q_", unique=True)
        wh = Warehouse(spark, tmp)
        li = load(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") % 20 == 0)
        base = li.withColumn("ship_day", F.date_format("l_shipdate", "yyyy-MM"))
        wh.create_or_replace(
            "lineitem_v", base.filter(F.col("l_linenumber") <= 4), "ship_day"
        )
        wh.append("lineitem_v", base.filter(F.col("l_linenumber") > 4))
        _demo_cache[key] = (wh, "lineitem_v")
    if not mutable:
        return _demo_cache[key]
    shared_wh, t = _demo_cache[key]
    copy_root = scratch_dir("wh_q_mut_", unique=True)
    os.rmdir(copy_root)  # copytree wants to create the destination itself
    shutil.copytree(shared_wh.root, copy_root)
    return Warehouse(spark, copy_root), t


@register(
    "c6_metadata_snapshots",
    # The fixture is deterministic (l_orderkey % 20 = 0; snap 1 = rows with
    # l_linenumber <= 4, snap 2 appends the rest), so the metadata table's
    # lineage + record counts are relationally recomputable from the source.
    oracle="""
        WITH src AS (SELECT * FROM lineitem WHERE l_orderkey % 20 = 0)
        SELECT CAST(1 AS BIGINT) AS snapshot_id,
               CAST(NULL AS BIGINT) AS parent_id,
               'replace' AS operation,
               CAST(count(*) FILTER (WHERE l_linenumber <= 4) AS BIGINT)
                   AS total_records
        FROM src
        UNION ALL
        SELECT 2, 1, 'append', CAST(count(*) AS BIGINT)
        FROM src
    """,
)
def c6_metadata_snapshots(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C6: the ``snapshots`` metadata table after a replace + an append
    (Iceberg metadata-table surface; reference's system-table query is
    ``README.md:204-207``)."""
    wh, t = _demo_warehouse(spark, sf_dir)
    snaps = wh.snapshots(t).select(
        "snapshot_id", "parent_id", "operation", "total_records"
    )
    rows = sorted(snaps.collect(), key=lambda r: r["snapshot_id"])
    _check(len(rows) == 2, f"expected 2 snapshots, got {len(rows)}")
    _check(
        [r["operation"] for r in rows] == ["replace", "append"],
        f"snapshot ops {[r['operation'] for r in rows]}",
    )
    _check(
        rows[1]["total_records"] > rows[0]["total_records"],
        "append did not grow total_records",
    )
    _check(rows[1]["parent_id"] == rows[0]["snapshot_id"], "broken parent chain")
    return snaps


@register(
    "c6_time_travel",
    oracle="""
        WITH src AS (SELECT * FROM lineitem WHERE l_orderkey % 20 = 0)
        SELECT CAST(1 AS BIGINT) AS snapshot_id,
               CAST(count(*) FILTER (WHERE l_linenumber <= 4) AS BIGINT) AS n_rows
        FROM src
        UNION ALL
        SELECT 2, CAST(count(*) AS BIGINT)
        FROM src
    """,
)
def c6_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C6: VERSION-AS-OF time travel — row counts at snapshot 1 vs current.

    Oracle-paired via the deterministic fixture; the in-query content-
    fingerprint check against the relationally-recomputed pre-append state
    remains the stronger row-level assertion."""
    from apache_iceberg_demo_spark.io import load

    wh, t = _demo_warehouse(spark, sf_dir)
    v1_frame = wh.read(t, snapshot_id=1)  # one manifest walk serves count+hash
    v1 = v1_frame.count()
    cur = wh.read(t).count()
    # time travel must reproduce EXACTLY the pre-append state: recompute the
    # expected snapshot-1 content relationally from the source table and
    # compare order-insensitive fingerprints, not just counts
    li = load(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") % 20 == 0)
    expected_v1 = li.withColumn(
        "ship_day", F.date_format("l_shipdate", "yyyy-MM")
    ).filter(F.col("l_linenumber") <= 4)
    _check(
        _content_hash(v1_frame) == _content_hash(expected_v1),
        "snapshot-1 read != recomputed pre-append content",
    )
    _check(cur > v1, "current snapshot should include the appended rows")
    return spark.createDataFrame(
        [(1, v1), (2, cur)], "snapshot_id bigint, n_rows bigint"
    )


@register(
    "c6_compaction_rewrite",
    # Deterministic fixture (l_orderkey % 20 = 0): the visible row counts
    # are relational; physical facts (file count shrank, expiry removed
    # files) are writer-parallelism-dependent and stay in-query asserts,
    # surfaced as asserted booleans.
    oracle="""
        SELECT CAST(count(*) AS BIGINT) AS rows_before,
               CAST(count(*) AS BIGINT) AS rows_after,
               TRUE AS data_identical,
               TRUE AS files_reduced,
               TRUE AS gc_removed_files
        FROM lineitem WHERE l_orderkey % 20 = 0
    """,
)
def c6_compaction_rewrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C6: rewrite_data_files compaction + expire_snapshots GC — data
    identical before/after (content fingerprint), file count reduced,
    expired files removed."""
    wh, t = _demo_warehouse(spark, sf_dir, mutable=True)
    before_files = wh.files(t).count()
    before_rows, before_hash = _content_hash(wh.read(t))
    wh.rewrite_data_files(t, target_file_mb=128)
    expired = wh.expire_snapshots(t, keep_last=1)
    after_files = wh.files(t).count()
    after_rows, after_hash = _content_hash(wh.read(t))
    # compaction is a pure physical rewrite: content fingerprint must be
    # byte-for-byte stable while the file count shrinks
    _check(
        (before_rows, before_hash) == (after_rows, after_hash),
        "compaction changed table content",
    )
    _check(after_files < before_files, "compaction did not reduce file count")
    _check(expired > 0, "expire_snapshots removed nothing")
    return spark.createDataFrame(
        [(before_rows, after_rows, before_hash == after_hash, after_files < before_files, expired > 0)],
        "rows_before bigint, rows_after bigint, data_identical boolean, "
        "files_reduced boolean, gc_removed_files boolean",
    )


@register(
    "c6_merge_into_upsert",
    # The merge ledger is fully relational on orders: base = keys % 3 <> 0,
    # changes = keys % 2 = 0; post-merge = base ∪ changes (upsert), updated
    # rows = every change row, time travel sees zero updates.
    oracle="""
        SELECT CAST(count(*) FILTER (WHERE o_orderkey % 3 <> 0) AS BIGINT)
                   AS rows_before,
               CAST(count(*) FILTER (WHERE o_orderkey % 2 = 0) AS BIGINT)
                   AS change_rows,
               CAST(count(*) FILTER (WHERE o_orderkey % 3 <> 0
                                     OR o_orderkey % 2 = 0) AS BIGINT)
                   AS rows_after,
               CAST(count(*) FILTER (WHERE o_orderkey % 2 = 0) AS BIGINT)
                   AS updated_rows,
               CAST(0 AS BIGINT) AS updated_rows_at_v1
        FROM orders
    """,
)
def c6_merge_into_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C6: MERGE INTO — upsert a changes batch into the versioned table:
    updated rows replace, new rows insert, untouched rows survive; the merge
    is a new snapshot (time travel still sees the pre-merge state)."""
    from apache_iceberg_demo_spark.io import load, scratch_dir

    tmp = scratch_dir("wh_merge_", unique=True)
    wh = Warehouse(spark, tmp)
    orders = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice"
    )
    wh.create_or_replace("orders_v", orders.filter(F.col("o_orderkey") % 3 != 0))
    base_rows = wh.read("orders_v").count()

    changes = orders.filter(F.col("o_orderkey") % 2 == 0).withColumn(
        "o_orderstatus", F.lit("U")
    )
    wh.merge_into("orders_v", changes, on=["o_orderkey"])

    merged = wh.read("orders_v")
    n_changes = changes.count()
    n_after = merged.count()
    n_updated = merged.filter(F.col("o_orderstatus") == "U").count()
    n_u_at_v1 = wh.read("orders_v", snapshot_id=1).filter(
        F.col("o_orderstatus") == "U"
    ).count()
    # MERGE semantics, asserted: every change row lands exactly once (update
    # or insert), untouched rows survive, and the pre-merge snapshot is
    # unchanged (the merge is a NEW snapshot, not an in-place edit)
    n_inserted = changes.filter(F.col("o_orderkey") % 3 == 0).count()
    _check(n_after == base_rows + n_inserted, "merge row-count ledger broken")
    _check(n_updated == n_changes, "not every change row carries its update")
    _check(n_u_at_v1 == 0, "time travel sees post-merge state")
    return spark.createDataFrame(
        [(base_rows, n_changes, n_after, n_updated, n_u_at_v1)],
        "rows_before bigint, change_rows bigint, rows_after bigint, "
        "updated_rows bigint, updated_rows_at_v1 bigint",
    )


@register(
    "c6_schema_evolution",
    # Deterministic fixture: v1 = orders keys % 7 = 0 (old 4-col schema),
    # the append adds keys % 7 = 1 in the evolved shape; column lists are
    # pinned by the DDL sequence (add o_channel, rename to status, drop
    # o_custkey) and every count is relational.
    oracle="""
        SELECT 'o_orderkey,o_custkey,o_orderstatus,o_totalprice' AS v1_columns,
               'o_orderkey,status,o_totalprice,o_channel' AS current_columns,
               CAST(count(*) FILTER (WHERE o_orderkey % 7 = 0) AS BIGINT)
                   AS v1_rows,
               CAST(count(*) FILTER (WHERE o_orderkey % 7 <= 1) AS BIGINT)
                   AS current_rows,
               CAST(count(*) FILTER (WHERE o_orderkey % 7 = 0) AS BIGINT)
                   AS null_channel_rows,
               TRUE AS metadata_only
        FROM orders
    """,
)
def c6_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C6: metadata-only schema evolution (Iceberg's headline capability —
    the hadoop catalog owns the schema, ``csv_to_ice.py:11-13``): add, rename
    and drop columns without rewriting a single data file; appends after the
    evolution write the new shape; time travel to the pre-evolution snapshot
    reads with the OLD schema."""
    from apache_iceberg_demo_spark.io import load, scratch_dir

    tmp = scratch_dir("wh_evolve_", unique=True)
    wh = Warehouse(spark, tmp)
    orders = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice"
    )
    wh.create_or_replace("orders_e", orders.filter(F.col("o_orderkey") % 7 == 0))
    files_before = set(wh.files("orders_e").toPandas()["file_path"])
    wh.add_column("orders_e", "o_channel", "string")
    wh.rename_column("orders_e", "o_orderstatus", "status")
    wh.drop_column("orders_e", "o_custkey")
    files_after = set(wh.files("orders_e").toPandas()["file_path"])
    # append a batch in the NEW shape
    batch2 = (
        orders.filter(F.col("o_orderkey") % 7 == 1)
        .withColumnRenamed("o_orderstatus", "status")
        .drop("o_custkey")
        .withColumn("o_channel", F.lit("web"))
    )
    wh.append("orders_e", batch2)
    cur = wh.read("orders_e")
    v1 = wh.read("orders_e", snapshot_id=1)
    v1_rows, cur_rows = v1.count(), cur.count()
    null_channel = cur.filter(F.col("o_channel").isNull()).count()
    _check(files_before == files_after, "evolution rewrote data files")
    _check(
        v1.columns == ["o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice"],
        f"pre-evolution snapshot lost its OLD schema: {v1.columns}",
    )
    _check(
        "status" in cur.columns
        and "o_channel" in cur.columns
        and "o_custkey" not in cur.columns,
        f"evolved schema wrong: {cur.columns}",
    )
    _check(
        null_channel == v1_rows,
        "pre-evolution rows should read NULL for the added column",
    )
    return spark.createDataFrame(
        [
            (
                ",".join(v1.columns),
                ",".join(cur.columns),
                v1_rows,
                cur_rows,
                null_channel,
                files_before == files_after,
            )
        ],
        "v1_columns string, current_columns string, v1_rows bigint, "
        "current_rows bigint, null_channel_rows bigint, metadata_only boolean",
    )


@register(
    "a8_relocated_warehouse_scan",
    # Deterministic fixture (the shared demo warehouse: l_orderkey % 20 = 0;
    # snapshot 1 = line numbers <= 4, snapshot 2 appends the rest), so every
    # visible count is relational; relocation transparency itself is the
    # in-query content-fingerprint check (same bytes before/after the move).
    oracle="""
        WITH src AS (SELECT * FROM lineitem WHERE l_orderkey % 20 = 0)
        SELECT CAST(count(*) AS BIGINT) AS rows_before_move,
               CAST(count(*) AS BIGINT) AS rows_after_move,
               CAST(count(*) FILTER (WHERE l_linenumber <= 4) AS BIGINT)
                   AS v1_before,
               CAST(count(*) FILTER (WHERE l_linenumber <= 4) AS BIGINT)
                   AS v1_after,
               TRUE AS relocation_transparent
        FROM src
    """,
)
def a8_relocated_warehouse_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A8: relocated-warehouse read (the reference's ``allow_moved_paths``
    DuckDB option, ``README.md:92-95``): manifest paths are stored RELATIVE
    to the table root, so physically moving the whole table keeps every
    snapshot readable — no path rewrite, exactly what Iceberg's
    metadata-relative layout buys.

    Uses a private CLONE of the shared demo warehouse (``mutable=True`` —
    the move is destructive) rather than building its own: the clone is a
    copytree, so the op measures pure relocation semantics instead of
    re-paying two Spark write jobs, and the clone-then-move is itself a
    second proof of the relative-path property (a copied root already read
    correctly before the move)."""
    import shutil

    wh, t = _demo_warehouse(spark, sf_dir, mutable=True)
    n_before = wh.read(t).count()
    v1_before = wh.read(t, snapshot_id=1).count()

    before_hash = _content_hash(wh.read(t))

    moved_root = wh.root.rstrip(os.sep) + "_relocated"
    shutil.move(wh.root, moved_root)
    wh2 = Warehouse(spark, moved_root)
    n_after = wh2.read(t).count()
    v1_after = wh2.read(t, snapshot_id=1).count()
    _check(
        _content_hash(wh2.read(t)) == before_hash,
        "relocated read returned different content",
    )
    _check(
        (n_before, v1_before) == (n_after, v1_after),
        "relocation changed visible row counts",
    )
    return spark.createDataFrame(
        [(n_before, n_after, v1_before, v1_after, n_before == n_after and v1_before == v1_after)],
        "rows_before_move bigint, rows_after_move bigint, v1_before bigint, "
        "v1_after bigint, relocation_transparent boolean",
    )


@register("c6_system_queries")  # oracle bound late in registry.load_all
def c6_system_queries(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A16/C6: system metadata table — the engine's registered query surface
    (the analog of the reference's ``system.runtime.queries`` inspection,
    ``/root/reference/README.md:204-207``).

    Oracle: bound AFTER all modules import (registry._finalize_late_oracles)
    because the listing must reflect the FINAL registry — a VALUES table of
    every (query_name, inventory_row, oracle_paired) row, so the driver's
    hash check proves the served system table matches the engine's actual
    registered surface."""
    from apache_iceberg_demo_spark import registry as reg

    rows = [
        (name, name.split("_")[0], name in reg.ORACLES)
        for name in sorted(reg.QUERIES)
    ]
    return spark.createDataFrame(
        rows, "query_name string, inventory_row string, oracle_paired boolean"
    )


@register(
    "c6_sort_order_clustering",
    # Deterministic fixture (l_orderkey % 3 = 0) + deterministic probe (the
    # MIN key of the slice, guaranteed non-empty — TPC-H orderkeys are
    # sparse, so a fixed literal could probe a hole and make the pruned-read
    # check vacuous): the point-lookup row count is relational; per-file
    # min/max tightening (clustered scans no more files than unclustered,
    # pruned read == full filter) depends on physical row placement and
    # stays in-query asserts.
    oracle="""
        WITH src AS (SELECT * FROM lineitem WHERE l_orderkey % 3 = 0),
        k AS (SELECT min(l_orderkey) AS k0 FROM src)
        SELECT CAST(count(*) FILTER (WHERE l_orderkey = k0) AS BIGINT)
                   AS rows_at_key,
               TRUE AS results_match,
               TRUE AS clustering_no_worse
        FROM src, k
        GROUP BY k0
    """,
)
def c6_sort_order_clustering(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C6/A4: sort-order clustering — the same data written unclustered vs
    clustered on the filter key; clustering tightens per-file min/max so the
    manifest pruner skips far more files for a point predicate."""
    from apache_iceberg_demo_spark.io import load, scratch_dir

    tmp = scratch_dir("wh_cluster_", unique=True)
    wh = Warehouse(spark, tmp)
    li = load(spark, sf_dir, "lineitem").filter(
        F.col("l_orderkey") % 3 == 0
    ).repartition(8)
    wh.create_or_replace("unclustered", li)
    wh.create_or_replace("clustered", li, cluster_by=["l_orderkey"])

    def kept(table: str, pred: str) -> int:
        meta = wh._load_meta(table)
        snap = wh._snapshot(meta, meta["current_snapshot_id"])
        return sum(0 if wh._can_skip(f, pred) else 1 for f in snap["manifest"])

    k0 = li.agg(F.min("l_orderkey")).collect()[0][0]
    pred = f"l_orderkey = {int(k0)}"
    n_pruned = wh.read("clustered", where=pred).count()
    _check(n_pruned > 0, "probe key matched nothing — the check is vacuous")
    rows_match = n_pruned == wh.read("unclustered").filter(pred).count()
    _check(rows_match, "pruned clustered read lost/gained rows")
    no_worse = kept("clustered", pred) <= kept("unclustered", pred)
    _check(no_worse, "clustering did not tighten file skipping")
    return spark.createDataFrame(
        [(n_pruned, rows_match, no_worse)],
        "rows_at_key bigint, results_match boolean, clustering_no_worse boolean",
    )


@register(
    "c6_file_skipping",
    # Deterministic fixture (l_orderkey % 20 = 0) + deterministic probe (the
    # MIN ship month, not whatever file happens to lead the manifest): the
    # pruned-read row count is relational; how many files the manifest
    # pruner kept is layout-dependent and stays an in-query assert.
    oracle="""
        WITH src AS (
            SELECT strftime(l_shipdate, '%Y-%m') AS m
            FROM lineitem WHERE l_orderkey % 20 = 0
        ),
        lo AS (SELECT min(m) AS m0 FROM src)
        SELECT m0 AS pred_month,
               CAST(count(*) FILTER (WHERE m = m0) AS BIGINT)
                   AS rows_pruned_read,
               CAST(count(*) FILTER (WHERE m = m0) AS BIGINT)
                   AS rows_full_read,
               TRUE AS results_match,
               TRUE AS files_skipped
        FROM src, lo
        GROUP BY m0
    """,
)
def c6_file_skipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C6: manifest min/max file skipping — a selective predicate scans fewer
    files than the full manifest (the Presto 6.55 MB-of-2 GB effect,
    reference ``README.md:162``)."""
    wh, t = _demo_warehouse(spark, sf_dir)
    meta = wh._load_meta(t)
    snap = wh._snapshot(meta, meta["current_snapshot_id"])
    total = len(snap["manifest"])
    first_month = min(str(f["partition"]["ship_day"]) for f in snap["manifest"])
    pred = f"ship_day = '{first_month}'"
    kept = [f for f in snap["manifest"] if not wh._can_skip(f, pred)]
    pruned_rows = wh.read(t, where=pred).count()
    full_rows = wh.read(t).filter(pred).count()
    _check(pruned_rows == full_rows, "file-skipping read diverged from full scan")
    _check(len(kept) < total, "selective predicate skipped no files")
    return spark.createDataFrame(
        [(first_month, pruned_rows, full_rows, pruned_rows == full_rows, len(kept) < total)],
        "pred_month string, rows_pruned_read bigint, "
        "rows_full_read bigint, results_match boolean, files_skipped boolean",
    )


@register(
    "c6_incremental_snapshot_read",
    oracle="""
        SELECT l_returnflag,
               CAST(count(*) AS BIGINT) AS n_rows,
               round(sum(l_quantity), 6) AS sum_qty
        FROM lineitem
        WHERE l_linenumber > 4
        GROUP BY l_returnflag
        ORDER BY l_returnflag
    """,
)
def c6_incremental_snapshot_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C6: Iceberg-style incremental (CDC-consumption) read — exactly the
    rows appended between two snapshots, located by manifest diff.

    Snapshot 1 holds ``l_linenumber <= 4``; snapshot 2 appends the rest.
    ``read_incremental(from=1)`` must return precisely the appended rows —
    the oracle recomputes them relationally from the source table. At 100 TB
    this is the key freshness primitive: a downstream run's scan cost is
    proportional to NEW data only, never the table size (Iceberg
    incremental-append scan semantics; reference's snapshot log,
    ``csv_to_ice.py:12`` hadoop catalog metadata)."""
    from apache_iceberg_demo_spark.io import load, scratch_dir

    tmp = scratch_dir("wh_inc_", unique=True)
    wh = Warehouse(spark, tmp)
    li = load(spark, sf_dir, "lineitem")
    wh.create_or_replace("li_inc", li.filter(F.col("l_linenumber") <= 4))
    wh.append("li_inc", li.filter(F.col("l_linenumber") > 4))
    inc = wh.read_incremental("li_inc", from_snapshot_id=1)
    return (
        inc.groupBy("l_returnflag")
        .agg(
            F.count("*").alias("n_rows"),
            F.round(F.sum("l_quantity"), 6).alias("sum_qty"),
        )
        .orderBy("l_returnflag")
    )


@register(
    "c6_write_audit_publish",
    # Deterministic fixture: base = demo subset (l_orderkey % 20 = 0), batch
    # = the % 40 = 0 slice of its first line items; the staged snapshot is
    # the 3rd commit on the 2-snapshot demo table.
    oracle="""
        WITH src AS (SELECT * FROM lineitem WHERE l_orderkey % 20 = 0),
             b AS (SELECT count(*) FILTER (WHERE l_orderkey % 40 = 0
                                           AND l_linenumber = 1) AS nb,
                   count(*) AS base
                   FROM src)
        SELECT CAST(3 AS BIGINT) AS published_snapshot_id,
               CAST(base AS BIGINT) AS base_rows,
               CAST(nb AS BIGINT) AS batch_rows,
               CAST(base + nb AS BIGINT) AS published_rows,
               TRUE AS audit_passed
        FROM b
    """,
)
def c6_write_audit_publish(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C6: Write-Audit-Publish — the production ingest safety pattern
    (Iceberg ``wap.id`` staged commits): the batch is fully written as a
    snapshot readers can't see, AUDITED against data-quality invariants by
    snapshot-id read, and only then published by an atomic pointer advance.
    A batch that fails audit is simply never published (and expires later).

    Self-verified invariants: staging changes nothing for readers (content
    fingerprint identical before/after stage), the staged snapshot holds
    exactly base+batch, publish makes precisely that state current, and an
    unpublished second stage stays invisible. Scale: audit cost is a scan of
    the STAGED snapshot only; publish is a metadata pointer swap — no data
    moves at any size."""
    from apache_iceberg_demo_spark.io import load

    wh, t = _demo_warehouse(spark, sf_dir, mutable=True)
    pre = _content_hash(wh.read(t))

    li = load(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") % 40 == 0)
    batch = li.withColumn(
        "ship_day", F.date_format("l_shipdate", "yyyy-MM")
    ).filter(F.col("l_linenumber") == 1)
    n_batch = batch.count()

    snap = wh.stage_append(t, batch)
    _check(_content_hash(wh.read(t)) == pre, "staging leaked into readers")
    staged = wh.read(t, snapshot_id=snap["snapshot_id"])
    n_staged = staged.count()
    _check(n_staged == pre[0] + n_batch, "staged snapshot != base + batch")
    # the audit step itself: the batch must satisfy table invariants
    _check(
        staged.filter(F.col("l_quantity") <= 0).count() == 0,
        "audit failed: non-positive quantities in staged snapshot",
    )

    wh.publish(t, snap["snapshot_id"])
    n_published = wh.read(t).count()
    _check(n_published == pre[0] + n_batch, "published state != audited state")

    # a staged-but-never-published batch must stay invisible forever
    wh.stage_append(t, batch.limit(100))
    _check(wh.read(t).count() == n_published, "unpublished stage visible")

    return spark.createDataFrame(
        [(snap["snapshot_id"], pre[0], n_batch, n_published, True)],
        "published_snapshot_id bigint, base_rows bigint, batch_rows bigint, "
        "published_rows bigint, audit_passed boolean",
    )


@register(
    "c6_remove_orphan_files",
    # Deterministic fixture (l_orderkey % 20 = 0): the table's visible row
    # count is relational; orphan bookkeeping (planted == removed, second
    # pass finds nothing, manifest untouched) is writer-parallelism-
    # dependent and stays in-query, surfaced as asserted booleans.
    oracle="""
        SELECT CAST(count(*) AS BIGINT) AS table_rows,
               TRUE AS orphans_all_removed,
               TRUE AS content_stable,
               TRUE AS second_pass_clean
        FROM lineitem WHERE l_orderkey % 20 = 0
    """,
)
def c6_remove_orphan_files(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C6: ``remove_orphan_files`` — location-driven GC of data files no
    snapshot references (aborted-write debris). The complement of
    ``expire_snapshots``: expiry forgets old snapshots' files, orphan
    removal reclaims files the metadata never knew.

    Self-verified: planting two orphan parquet files inside the table's data
    location changes NOTHING for readers (manifest-driven scans never list
    the directory), cleanup removes exactly the planted files, and the
    table's content fingerprint is identical before/after. That
    reader-invariance is the table-format point: directory listings are not
    the source of truth, the manifest is."""
    import os

    wh, t = _demo_warehouse(spark, sf_dir, mutable=True)
    pre = _content_hash(wh.read(t))
    files_before = wh.files(t).count()

    # plant orphans: a task's leftover file inside an existing snapshot dir
    # and a whole uncommitted write attempt
    data_root = os.path.join(wh._table_dir(t), "data")
    snap_dir = next(
        os.path.join(data_root, d)
        for d in sorted(os.listdir(data_root))
        if os.path.isdir(os.path.join(data_root, d))
    )
    orphan_src = wh.read(t).limit(50)
    orphan_src.write.mode("overwrite").parquet(
        os.path.join(data_root, "snap-aborted", "attempt-0")
    )
    orphan_src.limit(5).write.mode("overwrite").parquet(
        os.path.join(snap_dir, "_orphan_task_retry")
    )
    n_planted = sum(
        1
        for root in (os.path.join(data_root, "snap-aborted"), os.path.join(snap_dir, "_orphan_task_retry"))
        for _, _, fs in os.walk(root)
        for f in fs
        if f.endswith(".parquet")
    )

    _check(_content_hash(wh.read(t)) == pre, "orphans visible to readers")
    removed = wh.remove_orphan_files(t)
    _check(removed == n_planted, f"removed {removed}, planted {n_planted}")
    post = _content_hash(wh.read(t))
    _check(post == pre, "orphan cleanup changed table content")
    _check(wh.files(t).count() == files_before, "manifest file count changed")
    second = wh.remove_orphan_files(t)
    _check(second == 0, "second cleanup found more orphans")

    return spark.createDataFrame(
        [(pre[0], removed == n_planted, post == pre, second == 0)],
        "table_rows bigint, orphans_all_removed boolean, "
        "content_stable boolean, second_pass_clean boolean",
    )


@register(
    "c6_zorder_clustering",
    # The probe predicates are pure arithmetic on the column min/max (span =
    # (max-min)//16, band 5..6), so the two range-read row counts are
    # relational; WHICH files each layout prunes depends on physical row
    # placement and stays in-query (surfaced as the asserted booleans), as
    # does byte-identity of pruned vs full-filter reads.
    oracle="""
        WITH mm AS (
            SELECT min(l_partkey) AS pmin, max(l_partkey) AS pmax,
                   min(l_suppkey) AS smin, max(l_suppkey) AS smax
            FROM lineitem
        ),
        b AS (
            SELECT pmin, smin,
                   greatest((pmax - pmin) // 16, 1) AS sp,
                   greatest((smax - smin) // 16, 1) AS ss
            FROM mm
        )
        SELECT CAST(count(*) FILTER (WHERE l_partkey
                        BETWEEN pmin + 5 * sp AND pmin + 6 * sp) AS BIGINT)
                   AS rows_partkey_range,
               CAST(count(*) FILTER (WHERE l_suppkey
                        BETWEEN smin + 5 * ss AND smin + 6 * ss) AS BIGINT)
                   AS rows_suppkey_range,
               TRUE AS zorder_prunes_both,
               TRUE AS linear_scans_all_second,
               TRUE AS zorder_better_second
        FROM lineitem, b
        GROUP BY pmin, smin, sp, ss
    """,
)
def c6_zorder_clustering(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C6: Z-order (Morton-curve) clustering — Iceberg's
    ``rewrite_data_files(strategy => 'sort', sort_order => 'zorder(a, b)')``:
    interleave the bits of two rank-normalized columns so ONE physical sort
    order gives file-level min/max locality on BOTH columns.

    The linear-sort baseline written alongside proves the trade: sorted by
    l_partkey it prunes partkey ranges to ~2/16 files but scans ALL files
    for a suppkey range; the Z-ordered copy prunes BOTH dimensions
    (measured 5/16 and 8/16). Self-asserted, plus exactness: the pruned
    read must return byte-identical rows to an unpruned filter.

    Scale: the z-value is 32 JVM-side bit ops per row (one pass), the
    rewrite is the same range-partition + local sort as any compaction, and
    the payoff compounds with file count — at 100 TB a two-column query
    pattern over a linear layout reads ~100% of files on the second column;
    z-order cuts both to O(selectivity^0.5)."""
    from apache_iceberg_demo_spark.io import load, scratch_dir

    li = load(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_suppkey", "l_quantity"
    )
    mm = li.agg(
        F.min("l_partkey"), F.max("l_partkey"), F.min("l_suppkey"), F.max("l_suppkey")
    ).collect()[0]
    pmin, pmax, smin, smax = (int(v) for v in mm)

    def rank16(c: str, lo: int, hi: int):
        return ((F.col(c) - lo) * 65535 / max(hi - lo, 1)).cast("bigint")

    a, b = rank16("l_partkey", pmin, pmax), rank16("l_suppkey", smin, smax)
    z = F.lit(0).cast("bigint")
    for i in range(16):
        z = z.bitwiseOR(
            F.shiftleft(F.shiftrightunsigned(a, i).bitwiseAND(F.lit(1)), 2 * i + 1)
        )
        z = z.bitwiseOR(
            F.shiftleft(F.shiftrightunsigned(b, i).bitwiseAND(F.lit(1)), 2 * i)
        )

    wh = Warehouse(spark, scratch_dir("zorder_wh_", unique=True))
    wh.create_or_replace(
        "li_z",
        li.withColumn("zval", z).repartitionByRange(16, "zval").sortWithinPartitions("zval"),
    )
    wh.create_or_replace(
        "li_lin",
        li.withColumn("zval", z)
        .repartitionByRange(16, "l_partkey")
        .sortWithinPartitions("l_partkey"),
    )

    span_p, span_s = max((pmax - pmin) // 16, 1), max((smax - smin) // 16, 1)
    pred_p = f"l_partkey BETWEEN {pmin + 5 * span_p} AND {pmin + 6 * span_p}"
    pred_s = f"l_suppkey BETWEEN {smin + 5 * span_s} AND {smin + 6 * span_s}"

    def kept(t: str, pred: str) -> tuple[int, int]:
        meta = wh._load_meta(t)
        snap = wh._snapshot(meta, meta["current_snapshot_id"])
        return (
            sum(1 for f in snap["manifest"] if not wh._can_skip(f, pred)),
            len(snap["manifest"]),
        )

    kz_p, total = kept("li_z", pred_p)
    kz_s, _ = kept("li_z", pred_s)
    kl_p, _ = kept("li_lin", pred_p)
    kl_s, _ = kept("li_lin", pred_s)

    _check(kz_p < total and kz_s < total, "z-order pruned nothing on a dimension")
    _check(kl_s == total, "linear layout unexpectedly pruned the 2nd column")
    _check(kz_s < kl_s, "z-order not better than linear on the 2nd column")
    range_rows = {}
    for pred in (pred_p, pred_s):
        pruned = wh.read("li_z", where=pred)
        full = wh.read("li_z").filter(pred)
        ph = _content_hash(pruned)
        _check(
            ph == _content_hash(full),
            f"pruned read diverged from full filter for {pred!r}",
        )
        range_rows[pred] = ph[0]
    return spark.createDataFrame(
        [
            (
                range_rows[pred_p],
                range_rows[pred_s],
                kz_p < total and kz_s < total,
                kl_s == total,
                kz_s < kl_s,
            )
        ],
        "rows_partkey_range bigint, rows_suppkey_range bigint, "
        "zorder_prunes_both boolean, linear_scans_all_second boolean, "
        "zorder_better_second boolean",
    )


@register(
    "c6_named_refs",
    oracle="""
        SELECT 'v1.0' AS tag,
               CAST(2 AS BIGINT) AS pinned_snapshot,
               CAST(4 AS BIGINT) AS n_snapshots,
               TRUE AS exact_replay
    """,
)
def c6_named_refs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C6: named refs (Iceberg tags) — pin a release tag to a snapshot and
    read through it forever, regardless of later commits. The reproducibility
    primitive for training data: "the v1 corpus" stays byte-identical while
    the table keeps ingesting.

    Self-verified: the tagged read reproduces the EXACT content fingerprint
    of the pre-append snapshot after two later commits; re-tagging moves the
    pin; an unknown tag raises instead of silently reading current.

    Oracle: pinned constants (r06 closed-form pattern) — the scenario is
    fully deterministic (2 demo snapshots + 2 appends = 4, re-tag pins 2);
    the content-replay guarantees live in the in-query fingerprint checks."""
    wh, t = _demo_warehouse(spark, sf_dir, mutable=True)
    v1_hash = _content_hash(wh.read(t, snapshot_id=1))
    wh.tag_snapshot(t, "v1.0", snapshot_id=1)
    # table keeps moving: two more commits after the tag
    extra = wh.read(t).limit(200)
    wh.append(t, extra)
    wh.append(t, extra.limit(50))
    tagged = wh.read(t, snapshot_id=wh.resolve_ref(t, "v1.0"))
    _check(_content_hash(tagged) == v1_hash, "tagged read drifted from snapshot 1")
    _check(
        _content_hash(wh.read(t)) != v1_hash,
        "current read should differ after appends",
    )
    wh.tag_snapshot(t, "v1.0", snapshot_id=2)  # re-tag moves the pin
    _check(wh.resolve_ref(t, "v1.0") == 2, "re-tag did not move the ref")
    try:
        wh.resolve_ref(t, "nope")
        raise AssertionError("unknown ref resolved")
    except KeyError:
        pass
    snaps = wh.snapshots(t).count()
    return spark.createDataFrame(
        [("v1.0", 2, snaps, True)],
        "tag string, pinned_snapshot bigint, n_snapshots bigint, exact_replay boolean",
    )


@register(
    "c6_row_level_delete_update",
    # Deterministic fixture (l_orderkey % 20 = 0): every count the frame
    # carries is relational — delete matches l_linenumber = 7, the later
    # update matches l_returnflag = 'R' among the delete survivors.
    oracle="""
        WITH src AS (SELECT * FROM lineitem WHERE l_orderkey % 20 = 0)
        SELECT CAST(count(*) AS BIGINT) AS rows_before,
               CAST(count(*) FILTER (WHERE l_linenumber = 7) AS BIGINT)
                   AS rows_deleted,
               CAST(count(*) FILTER (WHERE l_returnflag = 'R'
                                     AND l_linenumber <> 7) AS BIGINT)
                   AS rows_updated,
               CAST(count(*) FILTER (WHERE l_linenumber <> 7) AS BIGINT)
                   AS rows_after,
               TRUE AS untouched_identical
        FROM src
    """,
)
def c6_row_level_delete_update(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C6: the row-level triad completed — standalone DELETE and UPDATE
    (copy-on-write, partial-partition) beside MERGE. DELETE removes matching
    rows in a new snapshot; UPDATE rewrites matching rows in place (a row
    whose update MOVES it across partitions leaves its old partition's
    rewrite and lands in a new file of the new one).

    Self-verified: deleted rows are gone and nothing else changed (content
    fingerprint of the untouched remainder is identical); updated values
    land while untouched columns and rows survive byte-identical; time
    travel still reads the pre-delete state; each op is its own snapshot
    with the proper operation label."""
    wh, t = _demo_warehouse(spark, sf_dir, mutable=True)
    pre_n, pre_hash = _content_hash(wh.read(t))
    base_snap = wh._load_meta(t)["current_snapshot_id"]

    # DELETE: drop one linenumber slice
    n_match = wh.read(t).filter("l_linenumber = 7").count()
    _check(n_match > 0, "delete predicate matches nothing — test is vacuous")
    remainder_hash = _content_hash(wh.read(t).filter("l_linenumber <> 7"))
    wh.delete_where(t, "l_linenumber = 7")
    _check(wh.read(t).count() == pre_n - n_match, "delete removed wrong count")
    _check(
        _content_hash(wh.read(t)) == remainder_hash,
        "delete disturbed non-matching rows",
    )
    # time travel still sees the pre-delete state
    _check(
        _content_hash(wh.read(t, snapshot_id=base_snap)) == (pre_n, pre_hash),
        "time travel lost the pre-delete state",
    )

    # UPDATE: zero out tax on one returnflag, leave everything else alone
    upd_match = wh.read(t).filter("l_returnflag = 'R'").count()
    untouched_hash = _content_hash(wh.read(t).filter("l_returnflag <> 'R'"))
    wh.update_where(t, "l_returnflag = 'R'", {"l_tax": "0.0"})
    after = wh.read(t)
    _check(
        after.filter("l_returnflag = 'R' AND l_tax <> 0.0").count() == 0,
        "update missed matching rows",
    )
    _check(after.count() == pre_n - n_match, "update changed row count")
    _check(
        _content_hash(after.filter("l_returnflag <> 'R'")) == untouched_hash,
        "update disturbed non-matching rows",
    )
    ops = [s["operation"] for s in wh._load_meta(t)["snapshots"]]
    _check(ops[-2:] == ["delete", "update"], f"snapshot ops {ops[-2:]}")
    return spark.createDataFrame(
        [(pre_n, int(n_match), int(upd_match), after.count(), True)],
        "rows_before bigint, rows_deleted bigint, rows_updated bigint, "
        "rows_after bigint, untouched_identical boolean",
    )


@register(
    "c6_snapshot_diff_cdc",
    # Row-LEVEL oracle (not a summary): the fixture is deterministic
    # (l_orderkey % 40 = 0, year-partitioned; retention-delete the oldest
    # year, tax-correct the newest), so the exact pre/post change images are
    # relationally recomputable. l_tax + 1.0 is the same IEEE double op on
    # both engines — bit-identical, no rounding needed.
    oracle="""
        WITH src AS (
            SELECT l_orderkey, l_linenumber, l_quantity, l_discount, l_tax,
                   strftime(l_shipdate, '%Y') AS ship_year
            FROM lineitem
            WHERE l_orderkey % 40 = 0
        ), b AS (
            SELECT min(ship_year) AS lo, max(ship_year) AS hi FROM src
        )
        SELECT 'delete_or_pre_update' AS change_type,
               l_orderkey, l_linenumber, l_quantity, l_discount, l_tax
        FROM src, b WHERE ship_year = lo OR ship_year = hi
        UNION ALL
        SELECT 'post_update',
               l_orderkey, l_linenumber, l_quantity, l_discount, l_tax + 1.0
        FROM src, b WHERE ship_year = hi
    """,
)
def c6_snapshot_diff_cdc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C6: row-level change-data-feed between two snapshots — the changelog
    view Iceberg exposes as ``table_changes`` (Delta: CDF): every row
    deleted, inserted, or rewritten between snapshot A and snapshot B,
    labeled as pre/post images.

    ``read_incremental`` handles append-only windows by manifest diff; this
    is its complement for windows containing copy-on-write DELETE/UPDATE
    commits. The manifest symmetric difference names the files that changed,
    and only rows from CHANGED files enter the ``exceptAll`` row diff —
    untouched partitions' entries carry into B's manifest byte-identical and
    are excluded for free. Multiset identity: with U the common files,
    (U + a) ∖ (U + b) = a ∖ b, so the pruned diff IS the full diff at churn
    cost, not table cost — the property that makes row-level CDC feasible on
    a 100 TB table where a commit touches a handful of partitions.

    Self-verifying: (1) the file-pruned diff equals the full two-snapshot
    exceptAll diff by content fingerprint; (2) pre/post images equal the
    relationally-recomputed expected sets EXACTLY (deletes = predicate
    matches, updates = survivors with the assignment applied); (3) the
    manifest diff really pruned (untouched files carried); (4) row-count
    bookkeeping: count(B) = count(A) - deletes.
    """
    from apache_iceberg_demo_spark.io import load, scratch_dir

    # private table, year-partitioned: the CDC shape needs FEW, coarse
    # partitions (churn hits one, the rest carry) — the shared month-
    # partitioned demo table would spend the whole budget writing 80+
    # one-file partitions
    wh = Warehouse(spark, scratch_dir("wh_cdc_", unique=True))
    t = "lineitem_cdc"
    li = load(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") % 40 == 0)
    wh.create_or_replace(
        t,
        li.withColumn("ship_year", F.date_format("l_shipdate", "yyyy")),
        "ship_year",
    )
    meta0 = wh._load_meta(t)
    sid_a = meta0["current_snapshot_id"]

    # partition-correlated predicates, derived from the MANIFEST alone (no
    # data scan): retention-delete the oldest year, correct tax in the
    # newest — the shape of real row-level churn on a partitioned table
    years = sorted(
        {
            str(f["partition"]["ship_year"])
            for f in wh._snapshot(meta0, sid_a)["manifest"]
        }
    )
    lo, hi = years[0], years[-1]
    del_pred = f"ship_year = '{lo}'"
    upd_pred = f"ship_year = '{hi}'"
    wh.delete_where(t, del_pred)
    wh.update_where(t, upd_pred, {"l_tax": "l_tax + 1.0"})

    meta = wh._load_meta(t)
    sid_b = meta["current_snapshot_id"]
    snap_a, snap_b = wh._snapshot(meta, sid_a), wh._snapshot(meta, sid_b)
    paths_a = {f["path"] for f in snap_a["manifest"]}
    paths_b = {f["path"] for f in snap_b["manifest"]}
    changed_a = [f for f in snap_a["manifest"] if f["path"] not in paths_b]
    changed_b = [f for f in snap_b["manifest"] if f["path"] not in paths_a]
    _check(
        len(changed_a) < len(snap_a["manifest"]),
        "manifest diff pruned nothing — untouched partitions were rewritten",
    )

    a_changed = wh._scan_files(t, meta, snap_a, changed_a, None)
    b_changed = wh._scan_files(t, meta, snap_b, changed_b, None)
    pre = a_changed.exceptAll(b_changed)
    post = b_changed.exceptAll(a_changed)

    # (1) pruned diff == full diff
    full_a, full_b = wh.read(t, snapshot_id=sid_a), wh.read(t)
    _check(
        _content_hash(pre) == _content_hash(full_a.exceptAll(full_b)),
        "file-pruned pre-image diff != full-table diff",
    )
    _check(
        _content_hash(post) == _content_hash(full_b.exceptAll(full_a)),
        "file-pruned post-image diff != full-table diff",
    )

    # (2) images equal the relationally-recomputed expectation
    exp_del = full_a.filter(del_pred)
    exp_upd_pre = full_a.filter(upd_pred)
    _check(
        _content_hash(pre) == _content_hash(exp_del.unionByName(exp_upd_pre)),
        "pre-images != deletes ∪ update pre-images",
    )
    _check(
        _content_hash(post)
        == _content_hash(exp_upd_pre.withColumn("l_tax", F.col("l_tax") + 1.0)),
        "post-images != update survivors with assignment applied",
    )

    # (4) bookkeeping
    n_del, n_upd = exp_del.count(), exp_upd_pre.count()
    _check(n_del > 0 and n_upd > 0, "vacuous CDC test — predicates matched nothing")
    _check(
        full_b.count() == full_a.count() - n_del,
        "row-count delta != inserts - deletes",
    )

    keep = ["l_orderkey", "l_linenumber", "l_quantity", "l_discount", "l_tax"]
    return (
        pre.select(F.lit("delete_or_pre_update").alias("change_type"), *keep)
        .unionByName(post.select(F.lit("post_update").alias("change_type"), *keep))
    )


@register(
    "c6_partition_evolution",
    # Deterministic fixture (l_orderkey % 50 = 0, split into % 100 = 0 vs
    # % 100 = 50 pre-/post-evolution batches — % 50 keys are all even, so a
    # parity split would leave one batch empty): vintage row counts and the
    # cross-vintage delete remainder are relational; file-level vintage
    # facts (old spec keyed by ship_year, new by l_returnflag, metadata-only
    # evolve) stay in-query asserts.
    oracle="""
        WITH src AS (SELECT * FROM lineitem WHERE l_orderkey % 50 = 0)
        SELECT CAST(count(*) FILTER (WHERE l_orderkey % 100 = 0) AS BIGINT)
                   AS old_vintage_rows,
               CAST(count(*) FILTER (WHERE l_orderkey % 100 = 50) AS BIGINT)
                   AS new_vintage_rows,
               CAST(count(*) FILTER (WHERE l_returnflag <> 'R') AS BIGINT)
                   AS rows_after_delete,
               TRUE AS exact_across_vintages
        FROM src
    """,
)
def c6_partition_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C6: partition-spec evolution — the table starts partitioned by
    ship_year, evolves to l_returnflag with a METADATA-ONLY commit, and new
    writes land under the new layout while the old files stay put. The scan
    merges both vintages (each dir group restores its own partition column
    from paths; the other vintage carries it as data), and row-level DELETE
    across the spec boundary lazily rewrites only the old-spec file groups
    holding a matched row.

    Self-verifying: (1) the evolve commit carries its parent's manifest
    byte-identical (no data moved); (2) the mixed-vintage scan equals the
    union of both input batches by content fingerprint; (3) old manifest
    entries are keyed by ship_year, new ones by l_returnflag; (4) DELETE on
    the NEW spec column stays exact across vintages (content fingerprint
    equals the relationally-recomputed remainder); (5) the snapshot log
    reads replace → evolve-spec → append → delete.
    """
    from apache_iceberg_demo_spark.io import load, scratch_dir

    wh = Warehouse(spark, scratch_dir("wh_spec_", unique=True))
    t = "lineitem_spec"
    li = load(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") % 50 == 0)
    year = F.date_format("l_shipdate", "yyyy")
    a = li.filter("l_orderkey % 100 = 0").withColumn("ship_year", year)
    b = li.filter("l_orderkey % 100 = 50").withColumn("ship_year", year)

    wh.create_or_replace(t, a, "ship_year")
    evolve_snap = wh.evolve_partition_spec(t, "l_returnflag")
    wh.append(t, b)

    meta = wh._load_meta(t)
    parent_manifest = wh._snapshot(meta, evolve_snap["parent_id"])["manifest"]
    _check(
        [f["path"] for f in evolve_snap["manifest"]]
        == [f["path"] for f in parent_manifest],
        "evolve-spec moved data files — must be metadata-only",
    )
    cur = wh._snapshot(meta, meta["current_snapshot_id"])
    old_files = [f for f in cur["manifest"] if "ship_year" in f["partition"]]
    new_files = [f for f in cur["manifest"] if "l_returnflag" in f["partition"]]
    _check(
        old_files and new_files and len(old_files) + len(new_files) == len(cur["manifest"]),
        "manifest does not hold both partition-spec vintages",
    )
    _check(
        _content_hash(wh.read(t)) == _content_hash(a.unionByName(b)),
        "mixed-vintage scan != union of both written batches",
    )

    # row-level DELETE keyed on the NEW spec column, spanning both vintages
    expected = a.unionByName(b).filter("l_returnflag <> 'R'")
    wh.delete_where(t, "l_returnflag = 'R'")
    _check(
        _content_hash(wh.read(t)) == _content_hash(expected),
        "cross-vintage delete lost or duplicated rows",
    )
    ops = [s["operation"] for s in wh._load_meta(t)["snapshots"]]
    _check(
        ops == ["replace", "evolve-spec", "append", "delete"],
        f"unexpected snapshot log {ops}",
    )
    return spark.createDataFrame(
        [
            (
                a.count(),
                b.count(),
                wh.read(t).count(),
                True,
            )
        ],
        "old_vintage_rows bigint, new_vintage_rows bigint, rows_after_delete bigint, "
        "exact_across_vintages boolean",
    )


@register(
    "c6_rollback_cherry_pick",
    # Deterministic fixture (event_id % 5 = 0 subset, split 3 ways by
    # event_id % 3): snapshot ids are pinned by the commit sequence and the
    # final row count is base ∪ good, relationally recomputable.
    oracle="""
        SELECT CAST(1 AS BIGINT) AS base_snapshot,
               CAST(2 AS BIGINT) AS bad_snapshot,
               CAST(3 AS BIGINT) AS picked_snapshot,
               CAST(count(*) FILTER (WHERE event_id % 3 <> 1) AS BIGINT)
                   AS rows_final,
               TRUE AS recovered
        FROM events
        WHERE event_id % 5 = 0
    """,
)
def c6_rollback_cherry_pick(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C6: the bad-commit recovery drill — a poisoned batch lands, a good
    batch lands on top of it, the table ROLLS BACK to the pre-poison
    snapshot (metadata-only; the bad data stays on disk, auditable by
    time travel), and the stranded good batch is CHERRY-PICKED onto the
    restored line. Net state: base + good, no trace of bad in the readable
    table, full trace in history.

    Self-verifying: (1) rollback restores the pre-poison content
    fingerprint exactly; (2) the poisoned snapshot remains time-travelable
    after rollback; (3) cherry-pick lands exactly base ∪ good by
    fingerprint; (4) cherry-picking a non-append (the rollback itself)
    raises; (5) re-picking the same snapshot raises (double-apply guard);
    (6) the snapshot log reads replace → append(bad) → append(good) →
    rollback → cherry-pick.
    """
    from apache_iceberg_demo_spark.io import load, scratch_dir

    wh = Warehouse(spark, scratch_dir("wh_rb_", unique=True))
    t = "events_rb"
    ev = load(spark, sf_dir, "events").filter(F.col("event_id") % 5 == 0).withColumn(
        "day", F.date_format("ts", "yyyy-MM-dd")
    )
    base = ev.filter("event_id % 3 = 0")
    bad = ev.filter("event_id % 3 = 1").withColumn("value", F.lit(-1e9))
    good = ev.filter("event_id % 3 = 2")

    wh.create_or_replace(t, base, "day")
    base_sid = wh._load_meta(t)["current_snapshot_id"]
    base_fp = _content_hash(wh.read(t))

    bad_snap = wh.append(t, bad)
    good_snap = wh.append(t, good)

    wh.rollback_to(t, base_sid)
    _check(_content_hash(wh.read(t)) == base_fp, "rollback lost the base state")
    _check(
        wh.read(t, snapshot_id=bad_snap["snapshot_id"])
        .filter("value = -1e9")
        .count()
        > 0,
        "poisoned snapshot no longer time-travelable after rollback",
    )

    pick = wh.cherry_pick(t, good_snap["snapshot_id"])
    _check(
        _content_hash(wh.read(t)) == _content_hash(base.unionByName(good)),
        "cherry-pick did not land exactly base ∪ good",
    )
    try:
        wh.cherry_pick(t, pick["snapshot_id"])
        raise AssertionError("cherry-picking a cherry-pick must raise")
    except ValueError:
        pass
    try:
        wh.cherry_pick(t, good_snap["snapshot_id"])
        raise AssertionError("double-applying a picked snapshot must raise")
    except ValueError:
        pass
    ops = [s["operation"] for s in wh._load_meta(t)["snapshots"]]
    _check(
        ops == ["replace", "append", "append", "rollback", "cherry-pick"],
        f"unexpected snapshot log {ops}",
    )
    return spark.createDataFrame(
        [(base_sid, bad_snap["snapshot_id"], good_snap["snapshot_id"],
          wh.read(t).count(), True)],
        "base_snapshot bigint, bad_snapshot bigint, picked_snapshot bigint, "
        "rows_final bigint, recovered boolean",
    )


@register(
    "c6_partitions_metadata",
    # The returned columns are the manifest stats a relational recount can
    # verify: per-partition row counts over the deterministic fixture.
    # File counts / byte sizes depend on writer parallelism, so they stay
    # in-query self-asserts rather than oracle columns.
    oracle="""
        SELECT '{"ship_day": "' || strftime(l_shipdate, '%Y-%m') || '"}'
                   AS partition,
               CAST(count(*) AS BIGINT) AS total_rows
        FROM lineitem
        WHERE l_orderkey % 20 = 0
        GROUP BY 1
    """,
)
def c6_partitions_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C6: the ``<table>.partitions`` metadata table — per-partition file
    count, byte size, and row count straight from the manifest (zero data
    files opened; the planning-time view an operator uses to spot skewed or
    over-fragmented partitions before compaction).

    Self-verifying: the manifest-derived per-partition row counts must equal
    a groupBy over the actual data — metadata and data in exact agreement —
    and totals must match the snapshot summary. The oracle re-counts rows
    per partition relationally; file count and byte size stay self-asserted
    (writer-parallelism-dependent).
    """
    wh, t = _demo_warehouse(spark, sf_dir)
    parts = (
        wh.files(t)
        .groupBy("partition")
        .agg(
            F.count("*").alias("file_count"),
            F.sum("size_bytes").alias("total_bytes"),
            F.sum("row_count").alias("total_rows"),
        )
    )
    meta_counts = {
        r["partition"]: r["total_rows"] for r in parts.collect()
    }
    part_col = wh._load_meta(t)["partition_by"]
    data_counts = {
        json.dumps({part_col: r["p"]}): r["n"]
        for r in wh.read(t)
        .groupBy(F.col(part_col).cast("string").alias("p"))
        .agg(F.count("*").alias("n"))
        .collect()
    }
    _check(
        meta_counts == data_counts,
        "manifest partition rows != data partition rows",
    )
    _check(
        sum(meta_counts.values()) == wh.read(t).count(),
        "partition totals != table count",
    )
    _check(
        parts.filter("file_count < 1 OR total_bytes <= 0").count() == 0,
        "manifest carries an empty/zero-byte partition entry",
    )
    return parts.select(
        "partition", F.col("total_rows").cast("bigint").alias("total_rows")
    )


@register(
    "c6_expire_snapshots_retention",
    # Deterministic fixture (l_orderkey % 20 = 0; snapshot 1 = line numbers
    # <= 4): the survivor set {tagged, current} and both surviving reads'
    # row counts are relational; the physical GC facts (expiry removed
    # snapshot-2-only files, zero orphans after) stay in-query asserts.
    oracle="""
        WITH src AS (SELECT * FROM lineitem WHERE l_orderkey % 20 = 0)
        SELECT CAST(2 AS BIGINT) AS snapshots_kept,
               CAST(count(*) AS BIGINT) AS current_rows,
               CAST(count(*) FILTER (WHERE l_linenumber <= 4) AS BIGINT)
                   AS tagged_rows,
               TRUE AS tagged_read_exact,
               TRUE AS gc_complete
        FROM src
    """,
)
def c6_expire_snapshots_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C6: retention-policy snapshot expiry with named-ref protection —
    Iceberg's ``expire_snapshots`` never drops the current snapshot or any
    snapshot a tag/branch pins, so a release-tagged training corpus stays
    byte-identical while routine history (and the files only it referenced)
    is garbage-collected.

    Scenario: [1 replace, 2 append] → tag snapshot 1 → 3 compaction
    (all-new files). Expire keep_last=1 must keep exactly {1 (tagged),
    3 (current)}, physically remove the append-only files that snapshot 2
    alone referenced, and leave both surviving reads content-identical to
    their pre-expiry fingerprints. A follow-up ``remove_orphan_files`` must
    find nothing — expiry's GC is complete, not approximate.

    Scale: expiry is pure metadata + file deletes; no data is read or
    shuffled, which is why Iceberg retention runs as a cheap maintenance
    job even on PB tables.
    """
    wh, t = _demo_warehouse(spark, sf_dir, mutable=True)
    wh.tag_snapshot(t, "release-v1", snapshot_id=1)
    v1_hash = _content_hash(wh.read(t, snapshot_id=1))
    wh.rewrite_data_files(t, target_file_mb=128)  # snapshot 3: all-new files
    cur_hash = _content_hash(wh.read(t))

    removed = wh.expire_snapshots(t, keep_last=1)
    remaining = sorted(r["snapshot_id"] for r in wh.snapshots(t).collect())
    _check(remaining == [1, 3], f"retention kept {remaining}, wanted [1, 3]")
    _check(removed > 0, "expiry removed no files (snapshot 2 owned some)")
    _check(
        _content_hash(wh.read(t, snapshot_id=wh.resolve_ref(t, "release-v1")))
        == v1_hash,
        "tagged snapshot content changed across expiry",
    )
    _check(_content_hash(wh.read(t)) == cur_hash, "current read changed across expiry")
    try:
        wh.read(t, snapshot_id=2)
        raise AssertionError("expired snapshot 2 still readable")
    except KeyError:
        pass
    orphans_after = wh.remove_orphan_files(t)
    _check(orphans_after == 0, f"expiry left {orphans_after} orphan files")
    return spark.createDataFrame(
        [(len(remaining), cur_hash[0], v1_hash[0], True, orphans_after == 0)],
        "snapshots_kept bigint, current_rows bigint, tagged_rows bigint, "
        "tagged_read_exact boolean, gc_complete boolean",
    )


@register(
    "c6_branch_fast_forward",
    # Deterministic fixture + deterministic audit batches: main = the demo
    # subset, branch head = main + first-line-items + their % 40 slice; the
    # two branch commits on the 2-snapshot demo table are snapshots 3 and 4.
    oracle="""
        WITH src AS (SELECT * FROM lineitem WHERE l_orderkey % 20 = 0)
        SELECT CAST(count(*) AS BIGINT) AS main_rows,
               CAST(count(*)
                    + count(*) FILTER (WHERE l_linenumber = 1)
                    + count(*) FILTER (WHERE l_linenumber = 1
                                       AND l_orderkey % 40 = 0) AS BIGINT)
                   AS branch_rows,
               CAST(4 AS BIGINT) AS published_head,
               TRUE AS isolation_held,
               TRUE AS divergence_refused
        FROM src
    """,
)
def c6_branch_fast_forward(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C6: Iceberg v2 named BRANCHES — an audit branch takes two append
    commits while main stays frozen (readers see nothing), then publishing
    is a metadata-only fast-forward of main up the branch's own ancestry.
    The multi-commit generalization of write-audit-publish
    (c6_write_audit_publish stages exactly one snapshot).

    Self-verified: main's content hash is identical before/during branch
    writes; the branch head reads main+both batches; after fast-forward the
    table reads exactly the branch head; a DIVERGED pointer (rollback moves
    main independently) must refuse to fast-forward rather than silently
    merge.
    """
    wh, t = _demo_warehouse(spark, sf_dir, mutable=True)
    main_hash = _content_hash(wh.read(t))
    main_rows = main_hash[0]

    wh.create_branch(t, "audit")
    # deterministic audit batches (first line items; their % 40 slice) so
    # the branch-head row count is relationally recomputable
    extra = wh.read(t).filter("l_linenumber = 1")
    wh.append_to_branch(t, "audit", extra)
    wh.append_to_branch(t, "audit", extra.filter("l_orderkey % 40 = 0"))

    _check(
        _content_hash(wh.read(t)) == main_hash,
        "branch writes leaked into main",
    )
    head = wh.resolve_branch(t, "audit")
    head_hash = _content_hash(wh.read(t, snapshot_id=head))
    branch_rows = head_hash[0]
    n_batches = extra.count() + extra.filter("l_orderkey % 40 = 0").count()
    _check(
        branch_rows == main_rows + n_batches,
        f"branch head rows {branch_rows} != main {main_rows} + {n_batches}",
    )

    wh.fast_forward(t, "audit")
    _check(
        _content_hash(wh.read(t)) == head_hash,
        "fast-forward did not publish the branch head",
    )

    # divergence guard: move main independently, then fast-forward must fail
    wh.create_branch(t, "stale", snapshot_id=1)
    wh.append_to_branch(t, "stale", extra.limit(10))
    try:
        wh.fast_forward(t, "stale")
        raise AssertionError("diverged fast-forward did not refuse")
    except ValueError:
        pass
    return spark.createDataFrame(
        [(main_rows, branch_rows, head, True, True)],
        "main_rows bigint, branch_rows bigint, published_head bigint, "
        "isolation_held boolean, divergence_refused boolean",
    )


@register(
    "c6_merge_on_read_delete",
    # Relational ledger over the deterministic fixture: deleted = the
    # predicate matches, late re-appends = their % 60 slice (file-scoped
    # delete entries must NOT touch them). Physical file counts stay
    # self-asserted; the frame carries the boolean they prove.
    oracle="""
        WITH src AS (SELECT * FROM lineitem WHERE l_orderkey % 20 = 0)
        SELECT TRUE AS metadata_only_commit,
               CAST(count(*) FILTER (WHERE l_linenumber = 2) AS BIGINT)
                   AS deleted_rows,
               CAST(count(*) FILTER (WHERE l_linenumber = 2
                                     AND l_orderkey % 60 = 0) AS BIGINT)
                   AS late_appended,
               CAST(count(*) FILTER (WHERE l_linenumber = 2
                                     AND l_orderkey % 60 = 0) AS BIGINT)
                   AS late_survivors,
               TRUE AS mor_equals_cow,
               TRUE AS debt_paid
        FROM src
    """,
)
def c6_merge_on_read_delete(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C6: MERGE-ON-READ row-level delete (Iceberg v2) vs copy-on-write —
    the same logical DELETE executed both ways, proving the v2 trade:

    - MoR commit is METADATA-ONLY (file count unchanged, zero rewrite);
      the read applies the scoped anti-filter and must equal the CoW
      result's content exactly;
    - rows APPENDED AFTER the delete that match the predicate are NOT
      deleted (file-scoped entries = the spec's sequence-number rule) —
      asserted by appending matching rows post-delete and counting them;
    - ``apply_deletes`` then materializes (pays the debt): entries
      cleared, content unchanged, and the appended matching rows still
      present.
    """
    wh, t = _demo_warehouse(spark, sf_dir, mutable=True)
    pred = "l_linenumber = 2"
    files_before = wh.files(t).count()
    deleted_rows = wh.read(t).filter(pred).count()
    expected = wh.read(t).filter(f"NOT coalesce({pred}, false)")
    expected_hash = _content_hash(expected)

    snap = wh.delete_where_mor(t, pred)
    files_after = wh.files(t).count()
    _check(files_after == files_before, "MoR delete rewrote data files")
    _check(
        _content_hash(wh.read(t)) == expected_hash,
        "MoR read != CoW-equivalent content",
    )

    # post-delete appends matching the predicate must SURVIVE (scoping);
    # deterministic slice so the ledger is relationally recomputable
    late = (
        wh.read(t, snapshot_id=snap["snapshot_id"] - 1)
        .filter(pred)
        .filter(F.col("l_orderkey") % 60 == 0)
    )
    n_late = late.count()
    _check(n_late > 0, "no late rows to append")
    wh.append(t, late)
    survivors = wh.read(t).filter(pred).count()
    _check(
        survivors == n_late,
        f"late-appended rows wrongly deleted: {survivors} != {n_late}",
    )

    pre_apply_hash = _content_hash(wh.read(t))
    wh.apply_deletes(t)
    _check(
        _content_hash(wh.read(t)) == pre_apply_hash,
        "apply_deletes changed table content",
    )
    meta_cur = wh._snapshot(wh._load_meta(t), wh._load_meta(t)["current_snapshot_id"])
    _check(
        not meta_cur.get("delete_predicates"),
        "apply_deletes left delete entries behind",
    )
    # physical file counts stay in the self-asserts (writer-parallelism-
    # dependent); the frame carries the boolean they prove + relational counts
    return spark.createDataFrame(
        [(files_after == files_before, deleted_rows, n_late, survivors, True, True)],
        "metadata_only_commit boolean, deleted_rows bigint, late_appended bigint, "
        "late_survivors bigint, mor_equals_cow boolean, debt_paid boolean",
    )
