#!/usr/bin/env python3
"""Compare benchmark results from two commits.

    python3 perfbench/compare.py BASE NEW

BASE and NEW are result files or directories of them: the records run.py
keeps under .bench_build/results/ (<workload>-seed<n>-trace<t>-<ms>.json), or
saved stdout of runs. Prints one row per workload x end-to-end metric with
each side's median and quartiles, the change and the metric's bound from
BENCHMARK.json, then the per-layer medians and deltas of the traced runs.
A metric whose spread (interquartile range over median) exceeds its bound
on either side is "unresolved" unless every NEW run beats every BASE run.
"""
import argparse
import json
import os
import statistics
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def records(path):
    files = ([os.path.join(d, f) for d, _, fs in os.walk(path) for f in fs
              if not f.endswith(".spans.jsonl")]
             if os.path.isdir(path) else [path])
    for f in sorted(files):
        with open(f, errors="replace") as fh:
            for line in fh:
                line = line.strip()
                if not line.startswith("{"):
                    continue
                try:
                    obj = json.loads(line)
                except json.JSONDecodeError:
                    continue
                rec = obj.get("record", obj)
                if "workload" in rec and "metrics" in rec:
                    yield rec


def group(path):
    """{(workload, trace): {metric: [values]}}"""
    out = {}
    for r in records(path):
        key = (r["workload"], bool(r["trace"]))
        for name, m in r["metrics"].items():
            out.setdefault(key, {}).setdefault(name, []).append(float(m["value"]))
    return out


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def spread(xs):
    q1, q2, q3 = quartiles(xs)
    return (q3 - q1) / abs(q2) if q2 else float("inf")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("base")
    ap.add_argument("new")
    ap.add_argument("--benchmark", default=os.path.join(ROOT, "BENCHMARK.json"))
    a = ap.parse_args()
    with open(a.benchmark) as f:
        bench = json.load(f)
    base, new = group(a.base), group(a.new)

    print(f"{'workload':<12} {'metric':<12} {'base q1/med/q3':>30} {'new q1/med/q3':>30} "
          f"{'change':>8} {'bound':>6}  verdict")
    regressions = 0
    for w in bench["workloads"]:
        for m in bench["end_to_end"]:
            xs = base.get((w["name"], False), {}).get(m["name"], [])
            ys = new.get((w["name"], False), {}).get(m["name"], [])
            if not xs or not ys:
                print(f"{w['name']:<12} {m['name']:<12} {'(no runs)':>30}")
                continue
            bq, nq = quartiles(xs), quartiles(ys)
            change = (nq[1] - bq[1]) / bq[1]
            worse = change if m["better"] == "lower" else -change
            all_better = (max(ys) < min(xs)) if m["better"] == "lower" else (min(ys) > max(xs))
            if m["name"] != "setup_s" and max(spread(xs), spread(ys)) > m["bound"] and not all_better:
                verdict = "unresolved"
            elif worse > m["bound"]:
                verdict = "REGRESSION"
                regressions += 1
            elif -worse > (bq[2] - bq[0]) / abs(bq[1]) and (len(ys) < 2 or all_better
                                                            or -worse > m["bound"]):
                verdict = "better"
            else:
                verdict = "within bound"
            fmt = lambda q: f"{q[0]:.4g}/{q[1]:.4g}/{q[2]:.4g} (n={len(xs) if q is bq else len(ys)})"
            print(f"{w['name']:<12} {m['name']:<12} {fmt(bq):>30} {fmt(nq):>30} "
                  f"{change:>+8.1%} {m['bound']:>6.2f}  {verdict}")

    print("\nper-layer medians of traced runs (rows where either side is non-zero)")
    print(f"{'workload':<12} {'metric':<40} {'base':>14} {'new':>14} {'change':>8}")
    for w in bench["workloads"]:
        b = base.get((w["name"], True), {})
        n = new.get((w["name"], True), {})
        for m in bench["per_layer"]:
            xs, ys = b.get(m["name"], []), n.get(m["name"], [])
            if not xs or not ys:
                continue
            bm, nm = statistics.median(xs), statistics.median(ys)
            if bm == 0 and nm == 0:
                continue
            ch = f"{(nm - bm) / bm:+.1%}" if bm else "new"
            print(f"{w['name']:<12} {m['name'] + ' [' + m['unit'] + ']':<40} {bm:>14.6g} {nm:>14.6g} {ch:>8}")
    sys.exit(1 if regressions else 0)


if __name__ == "__main__":
    main()
