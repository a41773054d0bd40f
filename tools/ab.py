"""Interleaved A/B of a perfbench workload: a git revision against this
checkout.

    python3 tools/ab.py REF --workload W --pairs N [--first-seed S] [--out PREFIX]
    python3 tools/ab.py --summarise PREFIX.jsonl
    python3 tools/ab.py REF --lines FILE.py [FILE.py ...]

REF (any revision) is exported with ``git archive`` into a scratch
directory, so the ``parent`` side runs exactly its committed files, as
the benchmark does; the ``change`` side is this checkout as it stands.
Pair i runs seed ``S + i - 1`` (default S = 1) on both sides, and the side
that runs first alternates, so host drift loads both sides alike.

Writes ``PREFIX.jsonl`` (one line per run: pair, side, seed, the run's
result JSON or null) and ``PREFIX.json``, the summary, and prints it. For
each end-to-end metric of BENCHMARK.json the summary gives both medians,
the parent's quartile spread (IQR), the pairs the change won, the bound
and a verdict:

- ``beyond bound``: the change's median is worse than the parent's by
  more than the bound (a fraction of the parent's median);
- ``faster`` / ``slower``: the change is better (worse) in at least 90 %
  of the pairs and its median sits further from the parent's than the
  parent's IQR;
- ``noise``: anything else.

A ``slower`` or ``beyond bound`` verdict is a regression call, and one
block can make it by chance. When any metric gets one, a second block of
as many pairs runs on the seeds after the first block's and is written to
``PREFIX_retry.jsonl``; the summary keeps its verdict per flagged metric
(``retry_verdict``) and marks the call ``confirmed`` only if the second
block makes a regression call on that metric too.

It also counts failed operations per side. ``--summarise`` re-reads such a
JSONL (``plans/r19/perfbench_*_pairs.jsonl`` have the same shape) without
running anything.

``--lines`` runs nothing either: it prints the code lines of each named
file at REF and in the checkout, and their totals. A code line holds a
token other than a comment, a newline or indentation, and is not part of
a docstring.
"""

from __future__ import annotations

import argparse
import ast
import io
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import tokenize

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def export_ref(ref: str) -> str:
    """The committed files of ``ref`` in a new scratch directory."""
    d = tempfile.mkdtemp(prefix="ab-ref-")
    archive = subprocess.run(
        ["git", "-C", ROOT, "archive", ref], check=True, capture_output=True
    ).stdout
    subprocess.run(["tar", "-x", "-C", d], input=archive, check=True)
    return d


def run_once(checkout: str, workload: str, seed: int) -> dict | None:
    """One untraced perfbench run; its result JSON, or None if it gave none."""
    try:
        p = subprocess.run(
            [sys.executable, "perfbench/run.py", "--workload", workload,
             "--seed", str(seed), "--seconds", "10", "--trace", "0"],
            cwd=checkout, capture_output=True, text=True, timeout=300,
        )
    except subprocess.TimeoutExpired:
        return None  # run.py kills its own child at 170 s
    lines = p.stdout.strip().splitlines()
    try:
        return json.loads(lines[-1]) if lines else None
    except json.JSONDecodeError:
        return None


def quartiles(xs: list[float]) -> tuple[float, float, float]:
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def summarise(rows: list[dict]) -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    by: dict[int, dict] = {}
    missing = 0
    for r in rows:
        if r["result"] is None:
            missing += 1
            continue
        by.setdefault(r["pair"], {})[r["side"]] = r["result"]
    pairs = [v for v in by.values() if "parent" in v and "change" in v]
    out = {
        "pairs": len(pairs),
        "runs_without_result": missing,
        "failed": {s: sum(v[s]["failed"] for v in pairs) for s in ("parent", "change")},
        "attempted": {s: sum(v[s]["attempted"] for v in pairs) for s in ("parent", "change")},
        "all_correct": all(v[s]["correct"] for v in pairs for s in v),
        "metrics": {},
    }
    for m in bench["end_to_end"]:
        k, sign = m["name"], (1 if m["better"] == "lower" else -1)
        p = [v["parent"]["metrics"][k]["value"] for v in pairs]
        c = [v["change"]["metrics"][k]["value"] for v in pairs]
        if not p:
            continue
        lo, pm, hi = quartiles(p)
        cm = statistics.median(c)
        won = sum(sign * (cc - pp) < 0 for pp, cc in zip(p, c))
        lost = sum(sign * (cc - pp) > 0 for pp, cc in zip(p, c))
        need = math.ceil(0.9 * len(p))
        shift = sign * (cm - pm)  # > 0: the change is worse
        if shift > m["bound"] * pm:
            verdict = "beyond bound"
        elif won >= need and -shift > hi - lo:
            verdict = "faster"
        elif lost >= need and shift > hi - lo:
            verdict = "slower"
        else:
            verdict = "noise"
        out["metrics"][k] = {
            "unit": m["unit"], "parent_median": pm, "parent_iqr": hi - lo,
            "change_median": cm, "rel": cm / pm - 1 if pm else None,
            "change_won": won, "bound": m["bound"], "verdict": verdict,
        }
    return out


def report(s: dict) -> str:
    lines = [
        f"pairs {s['pairs']}  runs without result {s['runs_without_result']}  "
        f"failed parent/change {s['failed']['parent']}/{s['failed']['change']} "
        f"of {s['attempted']['parent']}/{s['attempted']['change']}  "
        f"all correct {s['all_correct']}"
    ]
    for k, m in s["metrics"].items():
        retry = ""
        if "confirmed" in m:
            retry = (f"  retry {m['retry_verdict']}: "
                     f"{'confirmed' if m['confirmed'] else 'not confirmed'}")
        lines.append(
            f"{k:18s} parent {m['parent_median']:9.3f} (IQR {m['parent_iqr']:.3f})"
            f"  change {m['change_median']:9.3f}  rel {m['rel']:+.3f}"
            f"  won {m['change_won']}/{s['pairs']}  bound {m['bound']}  {m['verdict']}"
            + retry
        )
    return "\n".join(lines)


#: verdicts that call a regression; each is retried before it counts
REGRESSIONS = ("slower", "beyond bound")


def run_block(ref_dir: str, workload: str, pairs: int, first_seed: int,
              path: str) -> list[dict]:
    """``pairs`` alternating pairs on seeds ``first_seed`` onward; each
    run's row is also appended to the JSONL file ``path`` as it ends."""
    rows: list[dict] = []
    with open(path, "w") as f:
        for i in range(1, pairs + 1):
            seed = first_seed + i - 1
            order = ("parent", "change") if i % 2 else ("change", "parent")
            for side in order:
                res = run_once(ref_dir if side == "parent" else ROOT,
                               workload, seed)
                rows.append({"pair": i, "side": side, "seed": seed, "result": res})
                f.write(json.dumps(rows[-1]) + "\n")
                f.flush()
    return rows


def compare(ref_dir: str, workload: str, pairs: int, first_seed: int,
            prefix: str) -> dict:
    """The summary of a block of pairs written to ``PREFIX.jsonl``, with
    every regression call retried on a second block of fresh seeds
    (``PREFIX_retry.jsonl``, summarised under ``retry``)."""
    s = summarise(run_block(ref_dir, workload, pairs, first_seed,
                            prefix + ".jsonl"))
    flagged = [k for k, m in s["metrics"].items() if m["verdict"] in REGRESSIONS]
    if flagged:
        s["retry"] = summarise(run_block(ref_dir, workload, pairs,
                                         first_seed + pairs,
                                         prefix + "_retry.jsonl"))
        for k in flagged:
            again = s["retry"]["metrics"].get(k, {}).get("verdict")
            s["metrics"][k].update(retry_verdict=again,
                                   confirmed=again in REGRESSIONS)
    return s


def code_lines(src: str) -> int:
    """Lines of ``src`` holding code: a token other than a comment, a
    newline or indentation, outside every docstring."""
    doc: set[int] = set()
    for node in ast.walk(ast.parse(src)):
        if isinstance(node, (ast.Module, ast.ClassDef, ast.FunctionDef,
                             ast.AsyncFunctionDef)):
            b = node.body
            if (b and isinstance(b[0], ast.Expr)
                    and isinstance(b[0].value, ast.Constant)
                    and isinstance(b[0].value.value, str)):
                doc.update(range(b[0].lineno, b[0].end_lineno + 1))
    skip = (tokenize.COMMENT, tokenize.NL, tokenize.NEWLINE, tokenize.INDENT,
            tokenize.DEDENT, tokenize.ENDMARKER)
    lines: set[int] = set()
    for tok in tokenize.generate_tokens(io.StringIO(src).readline):
        if tok.type not in skip:
            lines.update(range(tok.start[0], tok.end[0] + 1))
    return len(lines - doc)


def line_counts(ref: str, paths: list[str]) -> list[tuple[str, int, int]]:
    """``(path, code lines at ref, code lines in the checkout)`` per path; a
    file missing on one side counts 0 there."""
    out = []
    for path in paths:
        rel = os.path.relpath(os.path.abspath(path), ROOT)
        old = subprocess.run(["git", "-C", ROOT, "show", f"{ref}:{rel}"],
                             capture_output=True, text=True)
        new = os.path.join(ROOT, rel)
        out.append((
            rel,
            code_lines(old.stdout) if old.returncode == 0 else 0,
            code_lines(open(new, encoding="utf-8").read())
            if os.path.exists(new) else 0,
        ))
    return out


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("ref", nargs="?")
    ap.add_argument("--workload")
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--out", help="output prefix (default ab_<workload>)")
    ap.add_argument("--summarise", metavar="JSONL")
    ap.add_argument("--lines", nargs="+", metavar="FILE",
                    help="print code-line counts at REF and in the checkout")
    args = ap.parse_args()
    if args.lines:
        if not args.ref:
            ap.error("--lines needs REF")
        rows = line_counts(args.ref, args.lines)
        rows.append(("total", sum(r[1] for r in rows), sum(r[2] for r in rows)))
        for rel, old, new in rows:
            print(f"{rel}  {args.ref} {old}  checkout {new}  delta {new - old:+d}")
        return 0
    if args.summarise:
        with open(args.summarise) as f:
            rows = [json.loads(line) for line in f]
        print(report(summarise(rows)))
        return 0
    if not (args.ref and args.workload):
        ap.error("REF and --workload are required unless --summarise is given")
    prefix = args.out or f"ab_{args.workload}"
    commit = subprocess.run(["git", "-C", ROOT, "rev-parse", args.ref], check=True,
                            capture_output=True, text=True).stdout.strip()
    ref_dir = export_ref(commit)
    try:
        s = compare(ref_dir, args.workload, args.pairs, args.first_seed, prefix)
    finally:
        shutil.rmtree(ref_dir, ignore_errors=True)
    s.update(ref=args.ref, ref_commit=commit, workload=args.workload,
             first_seed=args.first_seed)
    with open(prefix + ".json", "w") as f:
        json.dump(s, f, indent=1)
    print(report(s))
    return 0


if __name__ == "__main__":
    sys.exit(main())
