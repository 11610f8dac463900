#!/usr/bin/env bash
# Physical-plan diff of queries between a parent revision and this
# checkout's working tree, for refactors that must not change any plan.
#
# Usage: scripts/plan_diff.sh PARENT_REV [name...]
#
# With no names it diffs every query of the inventory, which is what a
# change to a shared helper needs: its callers are not always the queries
# one would name.
#
# Both sides run `graft.Explain` on the sf0.01 testdata (formatted
# physical plans). Only the lines from the first `===== name =====` header
# on are kept, and what differs between two runs of one build is
# stripped: expression ids (`#123`, `#45L`), exchange plan ids
# (`[plan_id=7]`) and RDD ids (`MapPartitionsRDD[1446]`), counters shared
# by every query of one run that shift when an earlier query's plan
# changes; the checkout's own path in file locations; JVM lambda names and
# identity hashes (`$$Lambda$6900/0x00007f79ad85ddf8@48a28383`,
# `TopK@3e666559`); and the source line of an RDD's call site
# (`at localCheckpoint at ValueOps.scala:90`). Two runs of one build diff
# empty. The parent is checked out once in a git worktree
# under ${TMPDIR:-/tmp}, the same directory scripts/perf_ab.sh uses, and
# reused by later calls (remove it with `git worktree remove DIR`).
# Prints the diff; exits 1 if it is not empty.
set -euo pipefail
cd "$(dirname "$0")/.."

PARENT=${1:?usage: scripts/plan_diff.sh PARENT_REV [name...]}
shift
SHA=$(git rev-parse --verify "$PARENT^{commit}")
WT="${TMPDIR:-/tmp}/perf_ab-${SHA:0:12}"
[ -d "$WT" ] || git worktree add --detach "$WT" "$SHA"
OUT=$(mktemp -d "${TMPDIR:-/tmp}/plan_diff-out.XXXXXX")

plans() {
  local dir=$1
  shift
  (cd "$dir" && sbt -batch "runMain graft.Explain /root/testdata/sf0.01 $*" 2>/dev/null) |
    grep '^\[info\]' | sed -n '/^\[info\] ===== /,$p' |
    sed -E "s/#[0-9]+L?//g; s/plan_id=[0-9]+/plan_id=/g; s/RDD\[[0-9]+\]/RDD[]/g; s#file:$dir/#file:#g" |
    sed -E 's/\$Lambda\$[0-9]+\/0x[0-9a-f]+/$Lambda/g; s/([A-Za-z0-9_$])@[0-9a-f]+/\1@/g; s/\.scala:[0-9]+/.scala/g'
}

plans "$WT" "$@" > "$OUT/parent.txt"
plans "$PWD" "$@" > "$OUT/change.txt"
echo "parent: $(wc -l < "$OUT/parent.txt") plan lines, change: $(wc -l < "$OUT/change.txt") (in $OUT)"
diff "$OUT/parent.txt" "$OUT/change.txt"
