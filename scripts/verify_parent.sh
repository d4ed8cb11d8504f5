#!/usr/bin/env bash
# Shows that a change leaves every graft.Verify result as it was at an
# earlier revision: runs the full Verify dump over one scale factor in a
# git worktree of REV, then in the working tree (one after the other,
# never two sbt runs at once), and diffs every output row for row
# (scripts/diff_verify.py).
#
# Usage: scripts/verify_parent.sh REV SF_DIR [WORK_DIR]
#   REV       any git revision, e.g. HEAD~1 or a commit id
#   SF_DIR    a test-data scale factor directory (e.g. .../testdata/sf0.01)
#   WORK_DIR  default target/verify_parent (outputs parent/ and change/,
#             one sbt log per run beside them, the worktree in tree/)
# sbt runs with the caller's SBT_OPTS. Exit status 0 when every output is
# identical, 1 when some differ, 2 when a Verify run fails.
set -euo pipefail

if [ $# -lt 2 ]; then sed -n '2,15p' "$0" >&2; exit 2; fi
here="$(cd "$(dirname "$0")/.." && pwd)"
rev="$1"
sf="$2"
work="${3:-$here/target/verify_parent}"
export SPARK_DRIVER_MEM="${SPARK_DRIVER_MEM:-6g}"

cd "$here"
git rev-parse --verify --quiet "$rev^{commit}" > /dev/null \
  || { echo "verify_parent: unknown revision $rev" >&2; exit 2; }
mkdir -p "$work"
tree="$work/tree"
git worktree remove --force "$tree" 2> /dev/null || rm -rf "$tree"
git worktree prune
git worktree add --detach --quiet "$tree" "$rev"
trap 'git -C "$here" worktree remove --force "$tree" 2> /dev/null || true; git -C "$here" worktree prune' EXIT

run() { # run NAME DIR: Verify from the sources in DIR into $work/NAME
  local out="$work/$1" log="$work/$1.log"
  rm -rf "$out"
  echo "verify_parent: graft.Verify in $2 -> $out" >&2
  (cd "$2" && sbt --batch -Dsbt.log.noformat=true "runMain graft.Verify $sf $out") \
    > "$log" 2>&1 \
    || { echo "verify_parent: Verify failed for $1, see $log" >&2; exit 2; }
  grep "\[verify\] .* failed" "$log" >&2 || true
}
run parent "$tree"
run change "$here"
python3 scripts/diff_verify.py "$work/parent" "$work/change"
