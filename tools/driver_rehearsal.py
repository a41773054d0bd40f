"""Full driver-gate rehearsal under the driver's PLAIN SparkSession.

The CORRECTNESS gate runs `__spark_entry__.queries()` in a SparkSession the
DRIVER builds (no engine configs: default shuffle partitions, default
broadcast threshold, no Arrow flag). Our pytest parity suite uses the tuned
`session.get_spark()` factory, so a query that silently depends on an engine
config would pass locally and fail the gate. This script closes that gap:
plain session + every registered query + oracle compare at sf0.01.

Run: timeout 1800 python tools/driver_rehearsal.py [--changed-since[=REF]]
     [sf_dir] [name1 name2 ...]
Optional trailing names restrict the run to those queries (fast re-checks of
freshly converted oracles). ``--changed-since`` (default REF: HEAD) instead
derives the set from git: every query whose DEFINING module has a diff vs
REF, unioned with any explicit names — the minutes-scale mid-round gate
(r09 VERDICT item 7); close-out still runs the full registry. A file whose
diff touches only docstrings and comments does not count as changed.
Changed files that define no queries (registry/io/tuning/session...) add
the four headline canaries so infra edits never select an empty set.
Prints one line per query and a final summary; exit 1 on any failure.
"""

from __future__ import annotations

import ast
import os
import sys
import time
import traceback

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import SparkSession


#: infra-edit canaries: the reference's own three benchmark queries + the
#: flagship (widest agg surface) — cheap, and they exercise io/session/
#: registry plumbing end-to-end
_CANARIES = [
    "a10_q1_filter_count",
    "a11_q2_filter_avg",
    "a12_q3_group_agg_sort",
    "flagship_pricing_summary",
]


def _code_dump(src: str) -> str | None:
    """The module's AST without docstrings (comments never reach the AST),
    or None if it does not parse."""
    try:
        tree = ast.parse(src)
    except SyntaxError:
        return None
    for node in ast.walk(tree):
        if isinstance(node, (ast.Module, ast.ClassDef, ast.FunctionDef,
                             ast.AsyncFunctionDef)):
            body = node.body
            if (body and isinstance(body[0], ast.Expr)
                    and isinstance(body[0].value, ast.Constant)
                    and isinstance(body[0].value.value, str)):
                node.body = body[1:] or [ast.Pass()]
    return ast.dump(tree)


def _same_code(old: str | None, new: str | None) -> bool:
    """True when two module sources differ only in docstrings, comments
    and layout. A missing or unparsable side counts as different."""
    if old is None or new is None:
        return False
    a = _code_dump(old)
    return a is not None and a == _code_dump(new)


def _changed_query_names(qs: dict, ref: str) -> list[str]:
    import subprocess

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    out = subprocess.run(
        ["git", "diff", "--name-only", ref, "--", "*.py"],
        capture_output=True,
        text=True,
        cwd=repo,
        check=True,
    ).stdout.split()

    def source(f: str, at_ref: bool) -> str | None:
        if at_ref:
            p = subprocess.run(["git", "show", f"{ref}:{f}"], cwd=repo,
                               capture_output=True, text=True)
            return p.stdout if p.returncode == 0 else None
        path = os.path.join(repo, f)
        if not os.path.exists(path):
            return None
        with open(path, encoding="utf-8") as fh:
            return fh.read()

    changed = {
        os.path.normpath(f) for f in out
        if not _same_code(source(f, True), source(f, False))
    }

    def module_file(fn) -> str:
        mod = sys.modules.get(getattr(fn, "__module__", ""), None)
        f = getattr(mod, "__file__", None)
        return os.path.normpath(os.path.relpath(f, repo)) if f else ""

    selected = [n for n, f in qs.items() if module_file(f) in changed]
    query_files = {module_file(f) for f in qs.values()}
    infra = changed - query_files
    if infra:
        print(f"infra files changed ({sorted(infra)}) -> adding canaries")
        selected += [n for n in _CANARIES if n in qs and n not in selected]
    return selected


def main() -> int:
    argv = list(sys.argv[1:])
    changed_ref = None
    if argv and argv[0].startswith("--changed-since"):
        arg = argv.pop(0)
        changed_ref = arg.split("=", 1)[1] if "=" in arg else "HEAD"
    sys.argv = [sys.argv[0]] + argv
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    # Defaults replicate the driver's plain session exactly. The env knobs
    # exist for BEYOND-gate hardening sweeps (e.g. the tools/scale_probe.py
    # 10x dirs): the default 1g driver heap OOMs around 10x sf0.1, which is
    # a harness limit, not an operator property — a real cluster sizes
    # executor memory to the data.
    spark = (
        SparkSession.builder.master(
            os.environ.get("SPARK_GRAFT_REHEARSAL_MASTER", "local[8]")
        )
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_REHEARSAL_MEM", "1g"),
        )
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    import __spark_entry__ as entry

    qs, oracles = entry.queries(), entry.oracle_sql()
    only = set(sys.argv[2:])
    if changed_ref is not None:
        picked = _changed_query_names(qs, changed_ref)
        print(
            f"--changed-since {changed_ref}: {len(picked)} queries from "
            f"changed modules: {picked}"
        )
        only |= set(picked)
        if not only:
            print("no changed query modules and no explicit names — nothing to do")
            return 0
    if only:
        missing = only - set(qs)
        if missing:
            print(f"unknown query names: {sorted(missing)}")
            return 1
        qs = {n: f for n, f in qs.items() if n in only}

    from tests.oracle_utils import compare, duck_connect

    con = duck_connect(sf_dir)

    failures: list[str] = []
    for i, (name, fn) in enumerate(qs.items()):
        t0 = time.time()
        try:
            df = fn(spark, sf_dir)
            if name in oracles:
                compare(df, con, oracles[name])
                status = "PASS"
            else:
                n = df.count()
                assert len(df.schema) > 0
                status = f"ROWS({n})"
        except Exception:
            status = "FAIL"
            failures.append(name)
            traceback.print_exc(limit=3)
        print(f"[{i + 1}/{len(qs)}] {name}: {status} ({time.time() - t0:.1f}s)", flush=True)

    print(f"\n{len(qs) - len(failures)}/{len(qs)} green; failures: {failures}")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
