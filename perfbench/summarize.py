#!/usr/bin/env python3
"""Summarize the runs kept under perfbench/.state/results.

Usage (from the root of a checkout):
    python3 perfbench/summarize.py [--results DIR]

run.py keeps each build's runs in a directory of their own; DIR defaults
to the one written last.

For each workload it prints:
  - each end-to-end metric over the untraced runs: median, quartiles and
    their spread (IQR / median) next to a third of the metric's bound in
    BENCHMARK.json;
  - the tracing overhead: traced minus untraced median of each end-to-end
    metric;
  - the self time per op of every traced layer (benchmark spans around the
    program's modules, and Spark jobs by the module of their call site),
    plus the driver gap, from the traced runs' span records.
"""
import argparse
import collections
import glob
import json
import os
import statistics
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import metrics as M  # noqa: E402


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def load(results):
    runs = collections.defaultdict(list)
    for path in sorted(glob.glob(os.path.join(results, "*.json"))):
        with open(path) as f:
            r = json.load(f)
        runs[(r["run"]["workload"], bool(r["run"]["trace"]))].append((path, r))
    return runs


def e2e_table(runs, bounds):
    for (wl, traced), rs in sorted(runs.items()):
        if traced:
            continue
        print(f"\n== {wl}: {len(rs)} untraced runs")
        names = rs[0][1]["report"]["metrics"].keys()
        for name in names:
            xs = [r["report"]["metrics"][name]["value"] for _, r in rs]
            q1, med, q3 = quartiles(xs)
            spread = (q3 - q1) / med if med else float("nan")
            bound = bounds.get(name)
            flag = "" if bound is None or spread <= bound / 3 else "  <-- spread above bound/3"
            print(f"  {name:18s} median {med:.6g}  q1 {q1:.6g}  q3 {q3:.6g}  "
                  f"spread {spread:.3f}" + (f"  bound/3 {bound / 3:.3f}" if bound else "") + flag)


def overhead_table(runs):
    print("\n== tracing overhead (traced minus untraced median)")
    for wl in sorted({w for w, _ in runs}):
        plain, traced = runs.get((wl, False), []), runs.get((wl, True), [])
        if not plain or not traced:
            continue
        for name in M.END_TO_END:
            a = statistics.median(M.end_to_end(r["run"])[name] for _, r in plain)
            b = statistics.median(M.end_to_end(r["run"])[name] for _, r in traced)
            print(f"  {wl:15s} {name:18s} untraced {a:.6g}  traced {b:.6g}  "
                  f"overhead {b - a:+.6g} ({(b - a) / a * 100 if a else float('nan'):+.1f}%)")


def layer_table(runs):
    for (wl, traced), rs in sorted(runs.items()):
        if not traced:
            continue
        self_ns = collections.Counter()
        jobs = collections.Counter()
        ops = gap = 0
        for path, r in rs:
            trace = path[:-len(".json")] + ".trace.jsonl"
            if not os.path.exists(trace):
                continue
            ops += len(r["run"]["latencies_s"])
            gap += r["run"]["layers"].get("spark.driver_gap_s", 0) * len(r["run"]["latencies_s"])
            with open(trace) as f:
                for line in f:
                    rec = json.loads(line)
                    if rec["kind"] == "span":
                        self_ns[f"span {rec['name']}"] += rec["self_ns"]
                    elif rec["kind"] == "job":
                        self_ns[f"jobs {rec['module']}"] += rec["end_ns"] - rec["start_ns"]
                        jobs[rec["module"]] += 1
        if not ops:
            continue
        total = sum(self_ns.values())
        print(f"\n== {wl}: self time per op over {ops} traced ops")
        for k, v in self_ns.most_common():
            print(f"  {k:40s} {v / 1e9 / ops:9.4f} s  {v / total * 100 if total else 0:5.1f}%"
                  + (f"  ({jobs[k[5:]] / ops:.1f} jobs/op)" if k.startswith("jobs ") else ""))
        print(f"  {'driver gap (op wall with no job running)':40s} {gap / ops:9.4f} s")


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--results")
    args = ap.parse_args()
    if args.results is None:
        builds = glob.glob(os.path.join(HERE, ".state", "results", "*", ""))
        if not builds:
            raise SystemExit("summarize: no kept results")
        args.results = max(builds, key=os.path.getmtime)
    bounds = {m["name"]: m["bound"] for m in M.BENCHMARK["end_to_end"]}
    runs = load(args.results)
    e2e_table(runs, bounds)
    overhead_table(runs)
    layer_table(runs)


if __name__ == "__main__":
    main()
