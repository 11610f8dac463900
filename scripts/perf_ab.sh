#!/usr/bin/env bash
# A/B of the benchmark (BENCHMARK.json, perfbench/run.py) between a parent
# revision and this checkout's working tree.
#
# Usage: scripts/perf_ab.sh PARENT_REV [workload] [pairs] [first_seed]
#   workload    master_refresh (default) or analyst
#   pairs       number of parent/change pairs (default 10)
#   first_seed  seed of the first pair; pair i uses first_seed + i (default 1)
#
# The parent is checked out once in a git worktree under ${TMPDIR:-/tmp}
# and reused by later calls (remove it with `git worktree remove DIR`).
# Each pair runs both sides on the same seed, untraced, and swaps which
# side goes first, so a drift in host speed hits both sides alike. At the
# end it prints, for each end-to-end metric, the median and quartiles of
# each side and the number of pairs the change won. Run logs stay in the
# printed directory.
set -euo pipefail
cd "$(dirname "$0")/.."

PARENT=${1:?usage: scripts/perf_ab.sh PARENT_REV [workload] [pairs] [first_seed]}
WORKLOAD=${2:-master_refresh}
PAIRS=${3:-10}
SEED0=${4:-1}
SHA=$(git rev-parse --verify "$PARENT^{commit}")
WT="${TMPDIR:-/tmp}/perf_ab-${SHA:0:12}"
[ -d "$WT" ] || git worktree add --detach "$WT" "$SHA"
RUN_SECONDS=$(python3 -c 'import json; print(json.load(open("BENCHMARK.json"))["run_seconds"])')
OUT=$(mktemp -d "${TMPDIR:-/tmp}/perf_ab-out.XXXXXX")

for ((i = 0; i < PAIRS; i++)); do
  seed=$((SEED0 + i))
  if ((i % 2 == 0)); then order="parent change"; else order="change parent"; fi
  for side in $order; do
    dir=$PWD; [ "$side" = parent ] && dir=$WT
    echo "== pair $((i + 1))/$PAIRS, seed $seed: $side"
    (cd "$dir" && python3 perfbench/run.py --workload "$WORKLOAD" --seed "$seed" \
      --seconds "$RUN_SECONDS" --trace 0) > "$OUT/$side-$seed.log" 2>&1 || true
  done
done

python3 - "$OUT" "$WORKLOAD" "$PAIRS" "$SEED0" <<'PY'
import json, statistics, sys

out, workload, pairs, seed0 = sys.argv[1], sys.argv[2], int(sys.argv[3]), int(sys.argv[4])
metrics = json.load(open("BENCHMARK.json"))["end_to_end"]


def result(side, seed):
    """The run's JSON report (run.py's last line), or None if the run broke."""
    lines = open(f"{out}/{side}-{seed}.log").read().splitlines()
    try:
        return json.loads(lines[-1])
    except (IndexError, ValueError):
        return None


def quartiles(xs):
    return tuple(statistics.quantiles(xs, n=4)) if len(xs) > 1 else (xs[0],) * 3


runs = [(result("parent", s), result("change", s)) for s in range(seed0, seed0 + pairs)]
broken = [seed0 + i for i, (p, c) in enumerate(runs) if p is None or c is None]
runs = [(p, c) for p, c in runs if p is not None and c is not None]
print(f"\n{workload}: {len(runs)} pairs, seeds {seed0}-{seed0 + pairs - 1}, logs in {out}")
if broken:
    print(f"runs without a report (see the logs), pairs dropped: seeds {broken}")
for side, k in (("parent", 0), ("change", 1)):
    wrong = sum(not r[k]["correct"] for r in runs)
    failed = sum(r[k]["failed"] for r in runs)
    print(f"{side}: {wrong} incorrect runs, {failed} failed ops")
if not runs:
    sys.exit(1)
print(f"{'metric':18s} {'parent median [q1-q3]':>28s} {'change median [q1-q3]':>28s}  wins")
for m in metrics:
    name = m["name"]
    p = [r[0]["metrics"][name]["value"] for r in runs]
    c = [r[1]["metrics"][name]["value"] for r in runs]
    lower = m["better"] == "lower"
    wins = sum((b < a) if lower else (b > a) for a, b in zip(p, c))
    cell = lambda xs: "{1:.3f} [{0:.3f}-{2:.3f}]".format(*quartiles(xs))
    print(f"{name:18s} {cell(p):>28s} {cell(c):>28s}  {wins}/{len(runs)} ({m['better']} is better)")
PY
