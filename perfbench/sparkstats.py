"""Readers for the Spark driver's own bookkeeping: the status store (jobs,
stages, tasks, SQL executions), the block manager's cached RDDs and the
driver JVM's heap. All reads go through the public JVM objects PySpark
exposes; stage and task records are fetched as one JSON document per call
(Jackson, already on Spark's classpath) instead of one py4j call per field.
"""

from __future__ import annotations

import gc
import json
import os
import re
import time

from perfbench import metrics

GC_ROUNDS = 6


class SparkStats:
    def __init__(self, spark):
        self.spark = spark
        sc = spark.sparkContext
        self.jvm = sc._jvm
        self.store = sc._jsc.sc().statusStore()
        self._empty_quantiles = sc._gateway.new_array(self.jvm.double, 0)
        om = self.jvm.com.fasterxml.jackson.databind.ObjectMapper()
        scala_module = getattr(self.jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$")
        om.registerModule(getattr(scala_module, "MODULE$"))
        self._json = om

    # --- marks: what happened after a point in time --------------------------

    def _stages(self) -> list[dict]:
        lst = self.store.stageList(None, False, False, self._empty_quantiles, None)
        return json.loads(self._json.writeValueAsString(lst))

    def _last_execution_id(self) -> int:
        lst = self.spark._jsparkSession.sharedState().statusStore().executionsList()
        return lst.apply(lst.size() - 1).executionId() if lst.size() else -1

    def mark(self) -> dict:
        stages = self._stages()
        return {
            "stage": max((s["stageId"] for s in stages), default=-1),
            "execution": self._last_execution_id(),
            "jobs": self.store.jobsList(None).size(),
        }

    def since(self, mark: dict) -> dict:
        """Scheduler totals for everything that ran after ``mark``."""
        stages = [s for s in self._stages() if s["stageId"] > mark["stage"]]
        tasks = empty = 0
        for s in stages:
            if s["numCompleteTasks"] == 0:
                continue
            lst = self.store.taskList(s["stageId"], s["attemptId"], 2**31 - 1)
            t, e = metrics.task_counts(json.loads(self._json.writeValueAsString(lst)))
            tasks, empty = tasks + t, empty + e
        return {
            "sql_executions": self._last_execution_id() - mark["execution"],
            "jobs": self.store.jobsList(None).size() - mark["jobs"],
            "stages": sum(s["status"] != "SKIPPED" for s in stages),
            "tasks": tasks,
            "empty_tasks": empty,
            "max_stage_width": max((s["numTasks"] for s in stages if s["status"] != "SKIPPED"), default=0),
            "executor_cpu_ms": sum(s["executorCpuTime"] for s in stages) / 1e6,
            "gc_ms": sum(s["jvmGcTime"] for s in stages),
            "shuffle_bytes": sum(s["shuffleReadBytes"] + s["shuffleWriteBytes"] for s in stages),
            "spill_bytes": sum(s["memoryBytesSpilled"] + s["diskBytesSpilled"] for s in stages),
            "peak_exec_mem_mb": max((s["peakExecutionMemory"] for s in stages), default=0) / 2**20,
        }

    # --- caches ----------------------------------------------------------------

    def live_rdds(self) -> int:
        return len(self.spark.sparkContext._jsc.getPersistentRDDs())

    def storage_bytes(self) -> int:
        infos = self.spark.sparkContext._jsc.sc().getRDDStorageInfo()
        return sum(i.memSize() + i.diskSize() for i in infos)

    def clear_caches(self) -> int:
        """Drop every cached table and persistent RDD; returns how many RDDs
        were still persisted before the clear."""
        live = self.spark.sparkContext._jsc.getPersistentRDDs()
        n = len(live)
        self.spark.catalog.clearCache()
        for rdd in list(live.values()):
            rdd.unpersist(True)
        return n

    # --- JVM -------------------------------------------------------------------

    def heap_after_gc_mb(self) -> float:
        """Least heap in use over ``GC_ROUNDS`` forced GCs. Python's collector
        runs first: JVM objects stay reachable while an unreachable Python
        proxy of them waits in a reference cycle. The pause between GCs lets
        Spark's ContextCleaner drop the blocks of objects the previous GC
        found unreachable; that can take three or four rounds, and fewer
        leave the figure at one of two levels ~18 MB apart."""
        gc.collect()
        rt = self.jvm.Runtime.getRuntime()
        used = []
        for i in range(GC_ROUNDS):
            if i:
                time.sleep(0.3)
            self.jvm.System.gc()
            used.append(rt.totalMemory() - rt.freeMemory())
        return min(used) / 2**20

    def jvm_peak_rss_mb(self) -> float:
        pid = self.jvm.ProcessHandle.current().pid()
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024
        return 0.0


def plan_phases(df) -> dict[str, float]:
    """Seconds in analysis / optimization / planning, from the planning
    tracker of the frame's query execution."""
    phases = df._jdf.queryExecution().tracker().phases()
    out = {}
    for k in ("analysis", "optimization", "planning"):
        p = phases.get(k)  # scala.Option
        out[k] = p.get().durationMs() / 1000 if p.isDefined() else 0.0
    return out


def scan_relations(df) -> int:
    """File scans in the frame's physical plan."""
    plan = df._jdf.queryExecution().sparkPlan().toString()
    return len(re.findall(r"FileScan|Scan parquet", plan))


def dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for fn in files:
            total += os.path.getsize(os.path.join(root, fn))
    return total
