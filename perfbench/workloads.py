"""The workloads. Each drives the package only through its public
functions: the registry's query callables, ``session.get_spark``,
``ingest.CsvIngestPipeline``, ``sources.warehouse.Warehouse`` and
``sources.iceberg_v2``.

A workload has ``setup`` (inputs, session, warm-up: everything before the
first timed operation) and ``run_pass`` (one closed-loop pass over its
operation list, one client). ``Run`` holds what every workload shares: the
tracer, failure accounting and the per-operation records.
"""

from __future__ import annotations

import os
import random
import time
import traceback

from perfbench import datagen, metrics
from perfbench.hostspeed import Stopwatch
from perfbench.sparkstats import SparkStats, dir_bytes, plan_phases, scan_relations
from perfbench.trace import Tracer

#: the 14 queries bench.py times: the reference's Q1-Q3, the flagship, a star
#: join, windows, streaming windows, as-of joins, text and similarity
ANALYTICS = [
    "a10_q1_filter_count", "a11_q2_filter_avg", "a12_q3_group_agg_sort",
    "flagship_pricing_summary", "b3_join_star_revenue", "b5_row_number_topk",
    "b9_tumbling_window", "asof_join_events", "sessionize_gap30m",
    "c1_dedup_exact_docs", "c3_cosine_topk", "c3_cosine_topk_batch",
    "c5_token_frequencies", "c5_tfidf_top_terms",
]

class Run:
    """State shared by a workload's passes: tracer, failures, op records."""

    def __init__(self, work_dir: str, seed: int, tracer):
        self.work_dir = work_dir
        self.seed = seed
        self.tracer = tracer
        self.attempted = 0
        self.failures: list[tuple[str, str]] = []
        self.wrong = 0  # failures that are wrong results, not exceptions
        self.records: list[dict] = []  # one per timed operation
        self.extra: dict[str, float] = {}  # workload-specific figures
        self.stats: SparkStats | None = None

    def timed(self, name: str, layer: str, fn):
        """Set-up step: ``fn()`` as a span, its seconds kept as ``<name>_s``."""
        with self.tracer.span(name, layer):
            t = time.perf_counter()
            out = fn()
            self.extra[f"{name}_s"] = time.perf_counter() - t
        return out

    def start_session(self, make_session):
        """Build a session, run one action on it and read its status store."""
        def start():
            spark = make_session()
            spark.range(1).count()
            return spark

        spark = self.timed("session.start", "session", start)
        self.stats = SparkStats(spark)
        return spark

    def attempt(self, op: str, fn, *, timed: bool = True, kind: str = "query"):
        """Run ``fn``; an exception is one failure, printed and never raised.
        Returns ``fn``'s result, or None when it failed."""
        self.attempted += 1
        sw = Stopwatch()
        try:
            with self.tracer.span(op, "bench", op=self.attempted):
                out = fn()
        except Exception as exc:  # boundary: count, report, keep running
            self.fail(op, exc)
            return None
        if timed:
            wall, unstolen = sw.read()
            self.records.append({"op": op, "kind": kind, "s": wall, "u": unstolen})
        return out

    def fail(self, op: str, exc) -> None:
        text = exc if isinstance(exc, str) else f"{type(exc).__name__}: {exc}"
        msg = (text.splitlines() or [""])[0][:300]
        self.failures.append((op, msg))
        print(f"FAILED {op}: {msg}", flush=True)
        if not isinstance(exc, str):
            traceback.print_exception(exc, limit=3)

    def check(self, op: str, ok: bool, detail: str) -> None:
        """A wrong result counts as a failure of an operation already attempted."""
        if not ok:
            self.wrong += 1
            self.fail(op, f"wrong result: {detail}")


# --- analytics: registry queries ------------------------------------------


class Analytics:
    """The 14 bench.py queries at sf0.1 in the engine's own tuned session,
    sized the way bench.py sizes it; each pass runs all of them in a seeded
    order."""

    MIN_PASSES = 2  # timed passes a run makes however short its --seconds
    SF = 0.1

    def __init__(self, run: Run):
        self.run = run
        self.sf_dir = os.path.join(run.work_dir, "data")
        self.spark = None
        self.first_results: dict | None = None  # rows of the first timed pass
        self.layer_of = {}

    def setup(self) -> None:
        from apache_iceberg_demo_spark import registry

        self.input_bytes = self.run.timed(
            "bench.datagen", "bench", lambda: datagen.write(self.sf_dir, self.run.seed, self.SF))
        self.run.timed("registry.load_all", "registry", registry.load_all)
        self.queries = registry.QUERIES
        self.oracles = registry.ORACLES
        for n in ANALYTICS:
            mod = self.queries[n].__module__
            self.layer_of[n] = "streaming" if ".streaming." in mod else "operators"
        self.spark = self.run.start_session(self._session)
        self.warm_up()

    def _session(self):
        from apache_iceberg_demo_spark.session import (
            default_parallelism,
            get_spark,
            sized_shuffle_partitions,
        )

        parts = sized_shuffle_partitions(self.input_bytes, default_parallelism())
        return get_spark("perfbench-analytics", shuffle_partitions=parts)

    def warm_up(self) -> None:
        """One untimed pass over a copy of the inputs at the generator's
        smallest sizes: loads classes, JIT-compiles and fills codegen caches
        for every query at a fraction of a full pass's cost."""
        warm_dir = os.path.join(self.run.work_dir, "warmup")
        datagen.write(warm_dir, self.run.seed, self.SF / 100)
        with self.run.tracer.span("warmup", "bench"):
            for name in ANALYTICS:
                self.run.stats.clear_caches()
                self.queries[name](self.spark, warm_dir).collect()

    def order(self, pass_no: int) -> list[str]:
        """A seeded order per pass, so no query always runs first."""
        names = list(ANALYTICS)
        random.Random(self.run.seed * 1000 + pass_no).shuffle(names)
        return names

    def invoke(self, name: str) -> tuple[list, list[str]]:
        """Clear caches, build the query's frame, collect it. Returns rows and
        columns. Cache clearing and the traced run's bookkeeping sit outside
        the timed region."""
        tr, st = self.run.tracer, self.run.stats
        with tr.span("caching.clear", "caching"):
            live = st.clear_caches()
        sw = Stopwatch()
        with tr.span(f"q.{name}", self.layer_of[name]):
            df = self.queries[name](self.spark, self.sf_dir)
        build_s = time.perf_counter() - sw.t
        with tr.span(f"action.{name}", "spark"):
            rows = df.collect()
        wall, unstolen = sw.read()
        rec = {"op": name, "kind": "query", "s": wall, "u": unstolen,
               "build_s": build_s, "action_s": wall - build_s}
        if tr.enabled:
            with tr.span("trace.bookkeeping", "bench"):
                rec.update({f"plan.{k}_s": v for k, v in plan_phases(df).items()})
                rec["cache.live_rdds_before"] = live
                rec["cache.live_rdds_after"] = st.live_rdds()
                rec["cache.storage_bytes"] = st.storage_bytes()
        self.run.records.append(rec)
        return rows, list(df.columns)

    def run_pass(self, pass_no: int) -> None:
        results = {}
        for name in self.order(pass_no):
            self.run.attempted += 1
            try:
                with self.run.tracer.span(name, "bench", op=self.run.attempted):
                    results[name] = self.invoke(name)
            except Exception as exc:  # boundary: count, report, keep running
                self.run.fail(name, exc)
        if self.first_results is None:
            self.first_results = results

    def verify(self) -> None:
        """Compare each result of the first timed pass with its DuckDB
        oracle, canonicalised as the tests do; runs once, untimed."""
        from tests.oracle_utils import canonical, duck_connect

        t = time.perf_counter()
        with self.run.tracer.span("oracle.duckdb", "oracle"):
            con = duck_connect(self.sf_dir)
            for name, (rows, cols) in (self.first_results or {}).items():
                try:
                    res = con.execute(self.oracles[name])
                    want = canonical([tuple(r) for r in res.fetchall()],
                                     [d[0] for d in res.description])
                    got = canonical([tuple(r) for r in rows], cols)
                except Exception as exc:  # boundary: count, report, keep running
                    self.run.fail(name, exc)
                    continue
                self.run.check(name, got == want, f"{len(got)} rows vs oracle {len(want)}")
            con.close()
        self.run.extra["oracle.duckdb_s"] = time.perf_counter() - t

    def close(self) -> None:
        if self.spark is not None:
            self.spark.stop()


# --- lifecycle: ingest, commit history, reads, export, maintenance ----------


class Lifecycle:
    """The reference's ETL, then a commit history with reads between commits.

    Commit ``i`` of ``N_COMMITS`` is a ``merge_into`` when ``i % 8 == 6``, a
    ``delete_where_mor`` when ``i % 8 == 3`` and an append of
    ``ROWS_PER_COMMIT`` rows otherwise; the seed picks the values and the
    delete predicates. Every ``READ_EVERY`` commits a native read runs as a
    count and as ``where p = k``. A Python row model checks every read."""

    MIN_PASSES = 1
    N_COMMITS = 12
    READ_EVERY = 2
    ROWS_PER_COMMIT = 1000
    MERGE_ROWS = 200
    INGEST_SF = 0.001
    TABLE = "events_t"

    def __init__(self, run: Run):
        self.run = run
        self.spark = None

    def setup(self) -> None:
        from apache_iceberg_demo_spark import registry
        from apache_iceberg_demo_spark.session import get_spark

        self.csv_path, self.csv_rows = self.run.timed("bench.datagen", "bench", self._write_csv)
        self.run.timed("registry.load_all", "registry", registry.load_all)
        self.spark = self.run.start_session(lambda: get_spark("perfbench-lifecycle"))
        self.warm_up()

    def warm_up(self) -> None:
        """One untimed short cycle (4 commits with their reads, export and
        maintenance; no ingest) on a throwaway warehouse, so the timed pass
        shows commit depth rather than JIT warm-up. The ingest stays cold,
        as an ETL job's first run is."""
        warm = Lifecycle(Run(os.path.join(self.run.work_dir, "warmup"), self.run.seed,
                             Tracer(enabled=False)))
        warm.spark, warm.N_COMMITS = self.spark, 4
        warm.run.stats = self.run.stats
        with self.run.tracer.span("warmup", "bench"):
            warm.run_pass(0, ingest=False)

    def _write_csv(self) -> tuple[str, int]:
        import pyarrow as pa
        import pyarrow.compute as pc
        import pyarrow.csv as pcsv

        # ship dates folded into one month: one partition per day, as the
        # reference's daily taxi partitions
        tbl = datagen.tables(self.run.seed, self.INGEST_SF)["lineitem"]
        day = pc.cast(tbl["l_shipdate"], pa.int64()).to_numpy() // 86_400_000_000
        ship = (day % 31 + 19723) * 86_400_000_000  # 2024-01-01 + 0..30 days
        tbl = tbl.set_column(tbl.schema.get_field_index("l_shipdate"), "l_shipdate",
                             pa.array(ship, pa.timestamp("us")))
        path = os.path.join(self.run.work_dir, "ingest", "lineitem.csv")
        os.makedirs(os.path.dirname(path), exist_ok=True)
        pcsv.write_csv(tbl, path)
        return path, tbl.num_rows

    # rows are a pure function of (id, seed), computed the same way in SQL
    # and in the Python model
    def _v(self, i: int, bump: int = 0) -> int:
        return (i * 7919 + self.run.seed * 31 + bump) % 100_003

    def _frame(self, lo: int, hi: int, bump: int = 0):
        s = self.run.seed
        return self.spark.range(lo, hi).selectExpr(
            "id",
            "CAST(id % 4 AS INT) AS p",
            f"(id * 7919 + {s * 31 + bump}) % 100003 AS v",
        )

    def _model_add(self, model: dict, lo: int, hi: int, bump: int = 0) -> None:
        for i in range(lo, hi):
            model[i] = self._v(i, bump)

    def run_pass(self, pass_no: int, ingest: bool = True) -> None:
        from apache_iceberg_demo_spark.ingest import lineitem_pipeline
        from apache_iceberg_demo_spark.sources import iceberg_v2
        from apache_iceberg_demo_spark.sources.warehouse import Warehouse

        run, tr = self.run, self.run.tracer
        rng = random.Random(run.seed * 1000 + pass_no)
        wh_dir = os.path.join(run.work_dir, f"warehouse-{pass_no}")
        wh = Warehouse(self.spark, wh_dir)

        def run_ingest():
            pipe = lineitem_pipeline()
            pipe.read = tr.wrap(pipe.read, "ingest.read", "ingest")
            pipe.transform = tr.wrap(pipe.transform, "ingest.transform", "ingest")
            with tr.span("ingest.run", "ingest"):
                return pipe.run(self.spark, self.csv_path, wh_dir, "ingested").count()

        if ingest:
            n = run.attempt("ingest", run_ingest, kind="ingest")
            if n is not None:
                run.check("ingest", n == self.csv_rows, f"{n} rows != {self.csv_rows}")

        model: dict[int, int] = {}
        next_id = 0
        for i in range(self.N_COMMITS):
            if i == 0:
                lo, next_id = 0, self.ROWS_PER_COMMIT
                ok = run.attempt("create_or_replace", lambda: wh.create_or_replace(
                    self.TABLE, self._frame(0, next_id), partition_by="p"), kind="commit")
                if ok is not None:
                    self._model_add(model, 0, next_id)
            elif i % 8 == 3:
                r = rng.randrange(13)
                pred = f"v % 13 = {r}"
                if run.attempt("delete_where_mor", lambda: wh.delete_where_mor(self.TABLE, pred),
                               kind="commit") is not None:
                    for k in [k for k, v in model.items() if v % 13 == r]:
                        del model[k]
            elif i % 8 == 6:
                lo = rng.randrange(0, max(1, next_id - self.MERGE_ROWS))
                hi_new = next_id + self.MERGE_ROWS
                bump = rng.randrange(1, 1000)
                src = self._frame(lo, lo + self.MERGE_ROWS, bump).unionByName(
                    self._frame(next_id, hi_new, bump))
                if run.attempt("merge_into", lambda: wh.merge_into(self.TABLE, src, on=["id"]),
                               kind="commit") is not None:
                    self._model_add(model, lo, lo + self.MERGE_ROWS, bump)
                    self._model_add(model, next_id, hi_new, bump)
                next_id = hi_new
            else:
                lo, next_id = next_id, next_id + self.ROWS_PER_COMMIT
                if run.attempt("append", lambda: wh.append(self.TABLE, self._frame(lo, next_id)),
                               kind="commit") is not None:
                    self._model_add(model, lo, next_id)
            if (i + 1) % self.READ_EVERY == 0:
                self._reads(wh, model, rng)

        if tr.enabled:
            with tr.span("trace.bookkeeping", "bench"):
                self._table_figures(wh)
        self._export_and_maintain(wh, model, iceberg_v2)

    def _agg(self, df):
        from pyspark.sql import functions as F

        r = df.agg(F.count("*").alias("n"), F.sum("v").alias("s")).collect()[0]
        return int(r["n"]), int(r["s"] or 0)

    @staticmethod
    def _want(model: dict, k: int | None = None) -> tuple[int, int]:
        vals = [v for i, v in model.items() if k is None or i % 4 == k]
        return len(vals), sum(vals)

    def _read(self, wh, model: dict, where: str | None, k: int | None):
        run, tr = self.run, self.run.tracer
        op = "read" if where is None else "read_where"

        def go():
            sw = Stopwatch()
            with tr.span("warehouse.read_plan", "warehouse"):
                df = wh.read(self.TABLE, where=where)
            plan_s = time.perf_counter() - sw.t
            with tr.span("warehouse.read_action", "spark"):
                got = self._agg(df)
            wall, unstolen = sw.read()
            rec = {"op": op, "kind": "read", "s": wall, "u": unstolen,
                   "plan_s": plan_s, "action_s": wall - plan_s}
            if tr.enabled:
                with tr.span("trace.bookkeeping", "bench"):
                    rec["scan_relations"] = scan_relations(df)
            run.records.append(rec)
            return got

        got = run.attempt(op, go, timed=False)
        if got is not None:
            want = self._want(model, k)
            run.check(op, got == want, f"(count, sum) {got} != model {want}")
        return got

    def _reads(self, wh, model: dict, rng) -> None:
        self._read(wh, model, None, None)
        k = rng.randrange(4)
        self._read(wh, model, f"p = {k}", k)

    def _table_figures(self, wh) -> None:
        """Sizes of the table after the commit history, through the
        warehouse's metadata tables and the file system."""
        table_dir = os.path.join(wh.root, self.TABLE)
        snaps = wh.snapshots(self.TABLE).collect()
        files = wh.files(self.TABLE).collect()
        live = sum(f["size_bytes"] for f in files)
        total = dir_bytes(table_dir)
        meta = sum(
            os.path.getsize(os.path.join(r, f))
            for r, _d, fs in os.walk(table_dir) for f in fs if not f.endswith(".parquet")
        )
        self.run.extra.update({
            "bytes_per_data_byte": metrics.bytes_per_data_byte(total, live),
            "warehouse.metadata_bytes": meta,
            "warehouse.manifest_entries": sum(s["n_files"] for s in snaps),
            "warehouse.data_files": len(files),
        })

    def _export_and_maintain(self, wh, model: dict, iceberg_v2) -> None:
        run, tr = self.run, self.run.tracer
        loc = run.attempt("export_iceberg_v2", lambda: iceberg_v2.export_iceberg_v2(wh, self.TABLE),
                          kind="export")
        if loc is not None:
            mdir = os.path.join(loc, "metadata")
            run.extra["iceberg_v2.metadata_bytes"] = dir_bytes(mdir)
            run.extra["iceberg_v2.manifest_files"] = sum(
                f.endswith(".avro") for f in os.listdir(mdir))

            def spec_read():
                t0 = time.perf_counter()
                with tr.span("iceberg_v2.read_plan", "iceberg_v2"):
                    df = iceberg_v2.read_iceberg_v2(self.spark, loc)
                t1 = time.perf_counter()
                with tr.span("iceberg_v2.read_action", "spark"):
                    got = self._agg(df)
                run.extra["iceberg_v2.read_plan_s"] = t1 - t0
                run.extra["iceberg_v2.read_action_s"] = time.perf_counter() - t1
                return got

            got = run.attempt("read_iceberg_v2", spec_read, timed=False)
            if got is not None:
                want = self._want(model)
                run.check("read_iceberg_v2", got == want, f"spec read {got} != model {want}")
        run.attempt("expire_snapshots", lambda: wh.expire_snapshots(self.TABLE, keep_last=1),
                    kind="maintenance")
        run.attempt("rewrite_data_files", lambda: wh.rewrite_data_files(self.TABLE),
                    kind="maintenance")
        self._read(wh, model, None, None)

    def verify(self) -> None:
        """Nothing left to check: every read was checked against the row
        model as it ran."""

    def close(self) -> None:
        if self.spark is not None:
            self.spark.stop()


WORKLOADS = {"analytics": Analytics, "lifecycle": Lifecycle}
