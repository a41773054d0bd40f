"""Summarise alternating perfbench pairs written by pairs.sh: failures,
and per end-to-end metric the parent median, its quartile spread, the
change median and how many pairs the change was lower in.

usage: python3 summarise_pairs.py PAIRS.jsonl
"""
import json, sys, statistics as stt
rows = [json.loads(l) for l in open(sys.argv[1])]
keys = ["setup_s", "query_p50_s", "query_p90_s", "pass_s", "heap_after_gc_mb"]
by = {}
for r in rows:
    res = r["result"]
    if res is None:
        print("missing", r); continue
    by.setdefault(r["pair"], {})[r["side"]] = res
def q(xs):
    xs = sorted(xs); n = len(xs)
    qs = stt.quantiles(xs, n=4) if n > 1 else [xs[0]] * 3
    return qs[0], stt.median(xs), qs[2]
print("pairs", len(by), "failed parent/change", sum(v["parent"]["failed"] for v in by.values()), sum(v["change"]["failed"] for v in by.values()),
      "attempted", sum(v["parent"]["attempted"] for v in by.values()), sum(v["change"]["attempted"] for v in by.values()),
      "correct all", all(v[s]["correct"] for v in by.values() for s in v))
for k in keys:
    p = [v["parent"]["metrics"][k]["value"] for v in by.values()]
    c = [v["change"]["metrics"][k]["value"] for v in by.values()]
    lo, pm, hi = q(p); _, cm, _ = q(c)
    better = sum(cc < pp for pp, cc in zip(p, c))
    print(f"{k:18s} parent med {pm:8.3f} (IQR {hi-lo:.3f}) change med {cm:8.3f}  rel {cm/pm-1:+.3f}  change lower in {better}/{len(p)}")
