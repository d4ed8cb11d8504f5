#!/usr/bin/env bash
# Shows that no graft.Verify result depends on the core count: runs the
# full Verify dump over one scale factor at SPARK_GRAFT_CPUS=1 and at 4,
# then diffs every output row for row (scripts/diff_verify.py).
#
# Usage: scripts/verify_cores.sh SF_DIR [WORK_DIR]
#   SF_DIR    a test-data scale factor directory (e.g. .../testdata/sf0.01)
#   WORK_DIR  default target/verify_cores (outputs cpu1/ and cpu4/, and
#             one sbt log per run beside them)
# sbt runs with the caller's SBT_OPTS. Exit status 0 when every output is
# identical, 1 when some differ, 2 when a Verify run fails.
set -euo pipefail

if [ $# -lt 1 ]; then sed -n '2,12p' "$0" >&2; exit 2; fi
here="$(cd "$(dirname "$0")/.." && pwd)"
sf="$1"
work="${2:-$here/target/verify_cores}"
export SPARK_DRIVER_MEM="${SPARK_DRIVER_MEM:-6g}"

mkdir -p "$work"
cd "$here"
for cpus in 1 4; do
  out="$work/cpu$cpus"
  log="$work/cpu$cpus.log"
  rm -rf "$out"
  echo "verify_cores: graft.Verify at SPARK_GRAFT_CPUS=$cpus -> $out" >&2
  SPARK_GRAFT_CPUS="$cpus" sbt --batch -Dsbt.log.noformat=true \
    "runMain graft.Verify $sf $out" > "$log" 2>&1 \
    || { echo "verify_cores: Verify failed at $cpus cores, see $log" >&2; exit 2; }
  grep "\[verify\] .* failed" "$log" >&2 || true
done
python3 scripts/diff_verify.py "$work/cpu1" "$work/cpu4"
