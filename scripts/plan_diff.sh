#!/usr/bin/env bash
# Physical-plan diff of named queries between a parent revision and this
# checkout's working tree, for refactors that must not change any plan.
#
# Usage: scripts/plan_diff.sh PARENT_REV name...
#
# Both sides run `graft.Explain` on the sf0.01 testdata (formatted
# physical plans). Only the lines from the first `===== name =====` header
# on are kept, and expression ids (`#123`, `#45L`) and exchange plan ids
# (`[plan_id=7]`, a counter shared by every query of one run, which shifts
# when an earlier query's plan changes) are stripped, so two runs of the
# same build diff empty. The parent is checked out once in a git worktree
# under ${TMPDIR:-/tmp}, the same directory scripts/perf_ab.sh uses, and
# reused by later calls (remove it with `git worktree remove DIR`).
# Prints the diff; exits 1 if it is not empty.
set -euo pipefail
cd "$(dirname "$0")/.."

PARENT=${1:?usage: scripts/plan_diff.sh PARENT_REV name...}
shift
[ $# -gt 0 ] || { echo "usage: scripts/plan_diff.sh PARENT_REV name..." >&2; exit 2; }
SHA=$(git rev-parse --verify "$PARENT^{commit}")
WT="${TMPDIR:-/tmp}/perf_ab-${SHA:0:12}"
[ -d "$WT" ] || git worktree add --detach "$WT" "$SHA"
OUT=$(mktemp -d "${TMPDIR:-/tmp}/plan_diff-out.XXXXXX")

plans() {
  local dir=$1
  shift
  (cd "$dir" && sbt -batch "runMain graft.Explain /root/testdata/sf0.01 $*" 2>/dev/null) |
    grep '^\[info\]' | sed -n '/^\[info\] ===== /,$p' | sed -E 's/#[0-9]+L?//g; s/plan_id=[0-9]+/plan_id=/g'
}

plans "$WT" "$@" > "$OUT/parent.txt"
plans "$PWD" "$@" > "$OUT/change.txt"
echo "parent: $(wc -l < "$OUT/parent.txt") plan lines, change: $(wc -l < "$OUT/change.txt") (in $OUT)"
diff "$OUT/parent.txt" "$OUT/change.txt"
