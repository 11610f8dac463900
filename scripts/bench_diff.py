#!/usr/bin/env python3
"""Per-query diff of two bench JSON files (BENCH_LOCAL.json / BENCH_r*.json).

Usage: python3 scripts/bench_diff.py <old.json> <new.json> [threshold]

Prints queries whose timing changed by more than `threshold` (default
0.30 = 30%) and by more than 0.1 s in either direction, plus new/vanished
queries and errors. A threshold of 0 prints every query, e.g. the per-query
ratios of a Bench run on a scaled dataset against one on its base.
Handles the driver's truncated files (parsed:null) by skipping gracefully.
"""
import sys, json


def load(path):
    with open(path) as f:
        d = json.load(f)
    # driver files wrap the line as {"parsed": {...}} or store raw
    if isinstance(d, dict) and "parsed" in d and isinstance(d["parsed"], dict):
        d = d["parsed"]
    if isinstance(d, dict) and "queries" not in d and "tail" in d:
        # driver kept only the last 2000 chars — scrape what survives;
        # the first scraped pair may be truncated mid-name, drop it
        import re
        pairs = re.findall(r'"([a-z0-9_]+)":([0-9.]+)', d["tail"])
        d = {"queries": {k: float(v) for k, v in pairs[1:]},
             "value": "?(truncated)", "errors": {}}
    if not isinstance(d, dict) or "queries" not in d:
        sys.exit(f"{path}: no usable queries field (truncated driver tail?)")
    return d


def main():
    old, new = load(sys.argv[1]), load(sys.argv[2])
    thr = float(sys.argv[3]) if len(sys.argv) > 3 else 0.30
    oq, nq = old["queries"], new["queries"]
    rows = []
    for name in sorted(set(oq) | set(nq)):
        a, b = oq.get(name), nq.get(name)
        if a is None:
            rows.append((name, a, b, "NEW"))
        elif b is None:
            rows.append((name, a, b, "VANISHED"))
        elif a > 0 and (thr == 0 or (abs(b - a) / a > thr and abs(b - a) > 0.1)):
            rows.append((name, a, b, f"{(b - a) / a:+.0%}"))
    for name, a, b, tag in rows:
        fa = f"{a:.2f}" if a is not None else "-"
        fb = f"{b:.2f}" if b is not None else "-"
        print(f"{tag:>10}  {name:<40} {fa:>8} -> {fb:>8}")
    print(f"== old total {old.get('value', '?')}s ({len(oq)} queries), "
          f"new total {new.get('value', '?')}s ({len(nq)} queries), "
          f"{len(rows)} changes > {thr:.0%}")
    for side, d in (("old", old), ("new", new)):
        errs = d.get("errors") or {}
        if errs:
            print(f"!! {side} errors: {', '.join(sorted(errs))}")


if __name__ == "__main__":
    main()
