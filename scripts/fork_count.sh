#!/usr/bin/env bash
# Count the `chmod` processes one benchmark run starts, by the path each
# one sets a mode on.
#
# Usage: scripts/fork_count.sh [workload] [seed]
#   workload  master_refresh (default) or analyst
#   seed      run seed (default 1)
#
# Without the native libhadoop, Hadoop's RawLocalFileSystem.setPermission
# runs `chmod MODE PATH` for every file, .crc file and directory a write
# creates. This script puts a counting `chmod` first on PATH for one
# untraced `perfbench/run.py` run only: the shim logs its arguments and
# runs the real chmod, and no other process sees it. It then groups the
# calls by path under the run's directory (`cycles/*/raw`, `stream`, ...)
# and prints the counts. Exits 1 if any path the program itself writes
# shows up: `cycles/*/raw`, `cycles/*/silver`, `cycles/*/gold` or
# `stream/*` (the benchmark's own writes, such as `stream_inputs` or
# `cycles/*/curation`, are listed but allowed).
set -euo pipefail
cd "$(dirname "$0")/.."

WORKLOAD=${1:-master_refresh}
SEED=${2:-1}
RUN_SECONDS=$(python3 -c 'import json; print(json.load(open("BENCHMARK.json"))["run_seconds"])')
REAL=$(command -v chmod)
SHIM=$(mktemp -d "${TMPDIR:-/tmp}/fork_count.XXXXXX")
trap 'rm -rf "$SHIM"' EXIT
cat > "$SHIM/chmod" <<EOF
#!/bin/sh
printf '%s\n' "\$*" >> "$SHIM/calls.log"
exec "$REAL" "\$@"
EOF
chmod +x "$SHIM/chmod"
: > "$SHIM/calls.log"

echo "== $WORKLOAD, seed $SEED, chmod shim in $SHIM"
code=0
PATH="$SHIM:$PATH" python3 perfbench/run.py --workload "$WORKLOAD" --seed "$SEED" \
  --seconds "$RUN_SECONDS" --trace 0 > "$SHIM/run.log" 2>&1 || code=$?
tail -n 1 "$SHIM/run.log"
if ((code != 0)); then
  tail -n 30 "$SHIM/run.log" >&2
  echo "perfbench run failed (exit $code)" >&2
  exit "$code"
fi

python3 - "$SHIM/calls.log" "$SHIM/run.log" <<'PY'
import collections, json, re, sys

calls = [ln.split()[-1] for ln in open(sys.argv[1]).read().splitlines() if ln.strip()]
report = json.loads(open(sys.argv[2]).read().splitlines()[-1])
run = re.compile(r"/\.state/runs/[^/]+/(.*)$")
groups, cycles = collections.Counter(), set()
for path in calls:
    m = run.search(path)
    if not m:
        groups["(outside the run directory)"] += 1
        continue
    parts = m.group(1).split("/")
    if parts[0] == "cycles" and len(parts) > 2:
        cycles.add(parts[1])
        groups[f"cycles/*/{parts[2]}"] += 1
    else:
        groups[parts[0]] += 1

program = {"cycles/*/raw", "cycles/*/silver", "cycles/*/gold", "stream"}
timed = len(cycles - {"warmup"})
print(f"{len(calls)} chmod processes; {timed} timed cycles plus warm-up "
      f"(op_p50_s {report['metrics']['op_p50_s']['value']})")
for key, n in sorted(groups.items(), key=lambda kv: -kv[1]):
    print(f"{n:7d}  {key}{'  <- program write' if key in program else ''}")
bad = sum(n for k, n in groups.items() if k in program)
print(f"under program-written paths: {bad}")
sys.exit(1 if bad else 0)
PY
