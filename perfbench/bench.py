"""One benchmark run of one workload; started by ``perfbench/run.py``, which
sets the environment (PYTHONPATH, scratch dirs, heap cap) and cleans up.

Prints a human-readable report (every metric with its unit and sample
count, failures by name), then as its last line one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. Untraced runs report the
end-to-end metrics, as times without the host's steal
(``perfbench/hostspeed.py``); traced runs (``--trace 1``) make the same
passes with spans recorded and report the per-layer metrics.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import statistics
import sys
import time

from perfbench import hostspeed

T_START = hostspeed.Stopwatch()

from perfbench import metrics  # noqa: E402
from perfbench.trace import Tracer  # noqa: E402
from perfbench.workloads import ANALYTICS, WORKLOADS, Run  # noqa: E402

E2E_UNITS = {
    "setup_s": "s", "query_p50_s": "s", "query_p90_s": "s", "pass_s": "s",
    "heap_after_gc_mb": "MB",
}

#: package layers the traced run reports self time for
LAYERS = ["bench", "session", "registry", "io", "operators", "streaming", "spark",
          "caching", "warehouse", "iceberg_v2", "ingest", "oracle"]

WAREHOUSE_CALLS = {
    "create_or_replace": "create_or_replace", "append": "append",
    "delete_where_mor": "delete", "merge_into": "merge_into",
    "expire_snapshots": "expire", "rewrite_data_files": "rewrite",
}


def per_layer_names() -> list[tuple[str, str]]:
    """Every per-layer metric, in BENCHMARK.json order, with its unit."""
    out = [
        ("session.start_s", "s"), ("registry.load_all_s", "s"), ("jvm.peak_rss_mb", "MB"),
        ("bench.datagen_s", "s"), ("io.load_s", "s"), ("io.load_calls", "count"),
        ("query.build_s", "s"), ("query.action_s", "s"), ("plan.analysis_s", "s"),
        ("plan.optimization_s", "s"), ("plan.planning_s", "s"),
    ]
    out += [(f"q.{n}_s", "s") for n in ANALYTICS]
    out += [
        ("spark.sql_executions", "count"), ("spark.jobs", "count"), ("spark.stages", "count"),
        ("spark.tasks", "count"), ("spark.empty_tasks", "count"),
        ("spark.useful_task_frac", "ratio"), ("spark.max_stage_width", "count"),
        ("spark.executor_cpu_ms", "ms"), ("spark.gc_ms", "ms"), ("spark.shuffle_bytes", "B"),
        ("spark.spill_bytes", "B"), ("spark.peak_exec_mem_mb", "MB"),
        ("cache.live_rdds_before", "count"), ("cache.live_rdds_after", "count"),
        ("cache.storage_bytes", "B"), ("driver.heap_after_gc_mb", "MB"),
    ]
    out += [(f"warehouse.{v}_s", "s") for v in WAREHOUSE_CALLS.values()]
    out += [
        ("warehouse.read_plan_s", "s"), ("warehouse.read_action_s", "s"),
        ("warehouse.metadata_bytes", "B"), ("warehouse.manifest_entries", "count"),
        ("warehouse.data_files", "count"), ("warehouse.scan_relations", "count"),
        ("iceberg_v2.export_s", "s"), ("iceberg_v2.manifest_files", "count"),
        ("iceberg_v2.metadata_bytes", "B"), ("iceberg_v2.read_plan_s", "s"),
        ("iceberg_v2.read_action_s", "s"),
        ("ingest.read_s", "s"), ("ingest.transform_s", "s"), ("ingest.write_s", "s"),
        ("commit_p50_s", "s"), ("commit_p90_s", "s"), ("read_p50_s", "s"), ("ingest_s", "s"),
        ("export_s", "s"), ("bytes_per_data_byte", "ratio"), ("failed_frac", "ratio"),
        ("oracle.duckdb_s", "s"), ("trace.overhead_frac", "ratio")
    ]
    out += [(f"self.{layer}_s", "s") for layer in LAYERS]
    return out


@contextlib.contextmanager
def instrument(tracer: Tracer):
    """Record spans around calls into ``io.load`` and the ``Warehouse``
    methods for the duration of the block, from outside the package: the
    bound names are swapped for recording wrappers and restored after."""
    from apache_iceberg_demo_spark import io
    from apache_iceberg_demo_spark.sources.warehouse import Warehouse

    swapped = []
    load = io.load
    traced_load = tracer.wrap(load, "io.load", "io")
    for name, mod in list(sys.modules.items()):
        if name.startswith("apache_iceberg_demo_spark") and getattr(mod, "load", None) is load:
            swapped.append((mod, "load", load))
            mod.load = traced_load
    for meth in WAREHOUSE_CALLS:
        orig = getattr(Warehouse, meth)
        swapped.append((Warehouse, meth, orig))
        setattr(Warehouse, meth, tracer.wrap(orig, f"warehouse.{meth}", "warehouse"))
    try:
        yield
    finally:
        for owner, attr, orig in swapped:
            setattr(owner, attr, orig)


def _med(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def end_to_end(records: list[dict], workload: str, setup: tuple, passes: list[tuple],
               heap_mb: float, steal_free: bool) -> tuple[dict, dict]:
    """End-to-end metrics and the sample counts behind them; times are
    without the host's steal when ``steal_free``, as measured otherwise."""
    i, key = (1, "u") if steal_free else (0, "s")
    kind = "read" if workload == "lifecycle" else "query"
    summ = metrics.latency_summary([r[key] for r in records if r["kind"] == kind])
    vals = {
        "setup_s": setup[i],
        "query_p50_s": summ["p50"],
        "query_p90_s": summ["p90"],
        "pass_s": _med([p[i] for p in passes]),
        "heap_after_gc_mb": heap_mb,
    }
    counts = {
        "setup_s": 1, "query_p50_s": summ["n"], "query_p90_s": summ["n"],
        "pass_s": len(passes), "heap_after_gc_mb": 1,
    }
    return vals, counts


def per_layer(run: Run, tracer: Tracer, spark_totals: dict, passes_s: float,
              figures: dict) -> dict:
    """Per-layer metrics of the traced passes, which took ``passes_s``."""
    recs = run.records
    q = [r for r in recs if r["kind"] == "query"]
    out = {name: 0.0 for name, _ in per_layer_names()}
    out.update({k: v for k, v in run.extra.items() if k in out})
    out.update(figures)
    out["io.load_s"] = sum(tracer.durations("io.load"))
    out["io.load_calls"] = tracer.calls("io.load")
    for key in ("build_s", "action_s"):
        out[f"query.{key}"] = _med([r[key] for r in q])
    for key in ("plan.analysis_s", "plan.optimization_s", "plan.planning_s"):
        out[key] = _med([r[key] for r in q if key in r])
    for name in ANALYTICS:
        out[f"q.{name}_s"] = _med([r["s"] for r in q if r["op"] == name])
    for k, v in spark_totals.items():
        out[f"spark.{k}"] = v
    out["spark.useful_task_frac"] = metrics.useful_task_frac(
        spark_totals.get("tasks", 0), spark_totals.get("empty_tasks", 0))
    if q:
        out["cache.live_rdds_before"] = sum(r["cache.live_rdds_before"] for r in q)
        for key in ("cache.live_rdds_after", "cache.storage_bytes"):
            out[key] = max(r[key] for r in q)
    for meth, short in WAREHOUSE_CALLS.items():
        out[f"warehouse.{short}_s"] = _med(tracer.durations(f"warehouse.{meth}"))
    reads = [r for r in recs if r["kind"] == "read"]
    out["warehouse.read_plan_s"] = _med([r["plan_s"] for r in reads])
    out["warehouse.read_action_s"] = _med([r["action_s"] for r in reads])
    out["warehouse.scan_relations"] = max((r.get("scan_relations", 0) for r in reads), default=0)
    out["iceberg_v2.export_s"] = _med([r["s"] for r in recs if r["op"] == "export_iceberg_v2"])
    out["ingest.read_s"] = sum(tracer.durations("ingest.read"))
    out["ingest.transform_s"] = sum(tracer.durations("ingest.transform"))
    if tracer.calls("ingest.run"):
        out["ingest.write_s"] = (sum(tracer.durations("ingest.run"))
                                 - out["ingest.read_s"] - out["ingest.transform_s"])
    commits = [r["s"] for r in recs if r["kind"] == "commit"]
    if commits:
        cs = metrics.latency_summary(commits)
        out["commit_p50_s"], out["commit_p90_s"] = cs["p50"], cs["p90"]
    out["read_p50_s"] = _med([r["s"] for r in reads])
    out["ingest_s"] = _med([r["s"] for r in recs if r["kind"] == "ingest"])
    out["export_s"] = out["iceberg_v2.export_s"]
    out["failed_frac"] = metrics.failed_frac(len(run.failures), run.attempted)
    # the tracer's own reads inside the passes, against the rest of them;
    # results/summary.json compares traced with untraced runs' pass_s
    booked = sum(tracer.durations("trace.bookkeeping"))
    out["trace.overhead_frac"] = booked / (passes_s - booked)
    for layer, s in metrics.self_times(tracer.spans).items():
        if f"self.{layer}_s" in out:
            out[f"self.{layer}_s"] = s
    return out


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--work-dir", required=True)
    ap.add_argument("--spans-out", default=None, help="write the traced run's spans here")
    args = ap.parse_args(argv)

    tracer = Tracer(enabled=bool(args.trace))
    run = Run(args.work_dir, args.seed, tracer)
    wl = WORKLOADS[args.workload](run)
    spark_totals, figures = {}, {}
    try:
        wl.setup()
        setup = T_START.read()
        passes: list[tuple[float, float]] = []  # (wall, without steal) per pass
        mark = run.stats.mark() if args.trace else None
        with instrument(tracer):
            t_run = time.perf_counter()
            while len(passes) < wl.MIN_PASSES or time.perf_counter() - t_run < args.seconds:
                sw = hostspeed.Stopwatch()
                wl.run_pass(len(passes))
                passes.append(sw.read())
        if args.trace:
            spark_totals = run.stats.since(mark)
            figures["driver.heap_after_gc_mb"] = run.stats.heap_after_gc_mb()
        wl.verify()
        heap_mb = run.stats.heap_after_gc_mb()
        figures["jvm.peak_rss_mb"] = run.stats.jvm_peak_rss_mb()
    finally:
        wl.close()

    recs = run.records
    e2e, counts = end_to_end(recs, args.workload, setup, passes, heap_mb, steal_free=True)
    raw, _ = end_to_end(recs, args.workload, setup, passes, heap_mb, steal_free=False)
    print(f"# workload={args.workload} seed={args.seed} trace={args.trace}")
    for k, v in e2e.items():
        print(f"# {k} = {v:.4f} {E2E_UNITS[k]} (n={counts[k]}; measured {raw[k]:.4f})")
    print(f"# failed_frac = {len(run.failures)}/{run.attempted} = "
          f"{metrics.failed_frac(len(run.failures), run.attempted):.4f}")
    for op, msg in run.failures:
        print(f"# failed op {op}: {msg}")
    for k, v in sorted(run.extra.items()):
        print(f"# {k} = {v:.4f}")
    for r in run.records:
        print(f"# op {r['op']} = {r['s']:.4f} s")

    if args.trace:
        pl = per_layer(run, tracer, spark_totals, sum(p[0] for p in passes), figures)
        if args.spans_out:
            tracer.dump(args.spans_out)
        units = dict(per_layer_names())
        out_metrics = {k: {"value": pl[k], "unit": units[k]} for k in units}
    else:
        out_metrics = {k: {"value": v, "unit": E2E_UNITS[k]} for k, v in e2e.items()}
    print(json.dumps({
        "correct": run.wrong == 0,
        "attempted": run.attempted,
        "failed": len(run.failures),
        "metrics": out_metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
