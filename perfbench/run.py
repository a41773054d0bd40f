"""Benchmark entry point.

    python3 perfbench/run.py --workload {analytics,lifecycle} \
        --seed N --seconds S --trace {0,1} [--spans-out FILE]

Run from the root of a checkout. Starts the run in a child process with the
checkout on PYTHONPATH (Spark's Python workers inherit it, which a
``sys.path`` insert would not reach), its own ``SPARK_LOCAL_DIRS`` and
scratch space under ``.perfbench_work/``, and the engine session's heap cap.
When the child ends or outlives the time limit, kills what is left of its
process group (the Spark JVM included) and removes that directory.
The child's output is passed through; its last line is the result JSON.
"""

from __future__ import annotations

import argparse
import contextlib
import os
import shutil
import signal
import subprocess
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
LIMIT_S = 170  # a hung run is killed: a healthy one ends in about a minute
CPUS = 4  # local[4]: one client, a host-independent width
DRIVER_MEM = "2g"  # the engine session's heap (its default, 48g, exceeds small hosts)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--spans-out", default=None)
    args = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "apache_iceberg_demo_spark")):
        print("perfbench: the package is not in this checkout", file=sys.stderr)
        return 2

    base = os.path.join(ROOT, ".perfbench_work")
    os.makedirs(base, exist_ok=True)
    work = tempfile.mkdtemp(prefix=f"{args.workload}-{args.seed}-", dir=base)
    env = dict(os.environ)
    env.update({
        "PYTHONPATH": ROOT + (os.pathsep + env["PYTHONPATH"] if env.get("PYTHONPATH") else ""),
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "SPARK_GRAFT_CPUS": str(CPUS),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "TMPDIR": os.path.join(work, "tmp"),
        # the JVM's temp files and perf-data file go under the work dir too
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData",
    })
    os.makedirs(env["SPARK_LOCAL_DIRS"])
    os.makedirs(env["TMPDIR"])
    cmd = [sys.executable, "-m", "perfbench.bench",
           "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", str(args.trace), "--work-dir", work]
    if args.spans_out:
        cmd += ["--spans-out", os.path.abspath(args.spans_out)]
    # the child's cwd is its work dir, so Spark's spark-warehouse/ and
    # metastore files land there and are removed with it
    # a SIGTERM to this process still runs the clean-up below
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    proc = subprocess.Popen(cmd, cwd=work, env=env, start_new_session=True)
    try:
        rc = proc.wait(timeout=LIMIT_S)
    except subprocess.TimeoutExpired:
        print(f"perfbench: run exceeded {LIMIT_S} s", file=sys.stderr)
        rc = 124
    finally:
        _kill_group(proc)
        shutil.rmtree(work, ignore_errors=True)
        with contextlib.suppress(OSError):  # another run may still use it
            os.rmdir(base)
    return rc


def _live_members(pgid: int) -> bool:
    """Whether any process of group ``pgid`` is still running (zombies,
    which only wait for their parent to reap them, do not count)."""
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        if int(fields[2]) == pgid and fields[0] != "Z":
            return True
    return False


def _kill_group(proc: subprocess.Popen) -> None:
    """Kill every process left in the child's group and wait until none
    runs (the JVM is not our child, so it cannot be waited on)."""
    if proc.poll() is None:
        os.killpg(proc.pid, signal.SIGKILL)
    proc.wait()
    for _ in range(200):
        if not _live_members(proc.pid):
            return
        try:
            os.killpg(proc.pid, signal.SIGKILL)
        except ProcessLookupError:
            return
        time.sleep(0.05)


if __name__ == "__main__":
    sys.exit(main())
