#!/usr/bin/env bash
# Three-scale oracle gate: runs graft.Verify and tools/oracle_check.py at
# sf0.001, sf0.01 and sf0.1 and fails when any scale has a bad, missing or
# failed query.
#
# usage: tools/oracle_sweep.sh <testdata-dir> [work-dir]
#   <testdata-dir>  holds sf0.001/, sf0.01/ and sf0.1/ (the test tables)
#   [work-dir]      receives, per scale, the Verify output dir and the
#                   verify/check logs (default: a fresh temporary dir)
#
# sbt always runs with --batch (no server is left behind) and inherits the
# caller's environment (SBT_OPTS, COURSIER_MODE, SPARK_GRAFT_CPUS,
# SPARK_DRIVER_MEM). On INT/TERM the sbt process tree it started is killed.
# Prints one "<scale>: <N> ok, <M> bad, <K> verify failures" line per scale
# and exits 0 only when every scale has 0 bad and 0 failures.
set -u

data=${1:?usage: tools/oracle_sweep.sh <testdata-dir> [work-dir]}
work=${2:-$(mktemp -d -t oracle_sweep.XXXXXX)}
cd "$(dirname "$0")/.." || exit 2
mkdir -p "$work"

pid=""
killtree() {
  local child
  for child in $(pgrep -P "$1"); do killtree "$child"; done
  kill -TERM "$1" 2>/dev/null
}
trap '[ -n "$pid" ] && killtree "$pid"; exit 130' INT TERM

status=0
for sf in sf0.001 sf0.01 sf0.1; do
  out="$work/$sf"
  rm -rf "$out"
  mkdir -p "$out"
  sbt --batch "runMain graft.Verify $data/$sf $out" >"$work/$sf.verify.log" 2>&1 &
  pid=$!
  wait "$pid"
  verify_exit=$?
  pid=""
  failures=$(grep -c '\[verify\] .* failed:' "$work/$sf.verify.log")
  python3 tools/oracle_check.py "$data/$sf" "$out" >"$work/$sf.check.log" 2>&1
  check_exit=$?
  summary=$(grep -E '^[0-9]+ ok, [0-9]+ bad$' "$work/$sf.check.log" | tail -1)
  echo "$sf: ${summary:-no oracle summary}, $failures verify failures"
  if [ "$verify_exit" -ne 0 ] || [ "$check_exit" -ne 0 ] || [ "$failures" -ne 0 ] ||
     [ -z "$summary" ]; then
    status=1
    grep -E "^(MISSING|ERROR|SCHEMA|TYPESKEW|ROWS|VALUES) " "$work/$sf.check.log" | head -20
  fi
done
echo "logs and outputs: $work"
exit "$status"
