#!/usr/bin/env bash
# Correctness gate at every scale factor: runs graft.Verify and the DuckDB
# replay (tools/preverify.py) at sf0.001, sf0.01 and sf0.1, each into its
# own output directory, and exits non-zero if any declared query fails to
# match its oracle at any scale factor.
#
# Usage: tools/gate.sh <testdataDir> [outRoot]
#   <testdataDir> holds sf0.001/, sf0.01/ and sf0.1/; outRoot defaults to
#   /tmp/graft_gate (dumps land in <outRoot>/sf0.001, <outRoot>/sf0.01 and
#   <outRoot>/sf0.1)
# Runs the compiled classes through run_tool.sh, so compile first
# (`sbt compile`). A scale factor whose Verify fails is reported as failed
# and its replay is skipped. Honors SPARK_DRIVER_MEM and SPARK_GRAFT_CPUS.
set -uo pipefail
DATA=${1:?usage: tools/gate.sh <testdataDir> [outRoot]}
OUT=${2:-/tmp/graft_gate}
HERE=$(dirname "$0")
mkdir -p "$OUT"
failed=()
for sf in sf0.001 sf0.01 sf0.1; do
  # a fresh directory per run: a dump left by an earlier run would let a
  # query that now fails to write still pass the replay
  rm -rf "${OUT:?}/$sf"
  echo "[gate] $sf: Verify" >&2
  if ! "$HERE/run_tool.sh" graft.Verify "$DATA/$sf" "$OUT/$sf"; then
    echo "[gate] $sf: Verify failed, preverify skipped" >&2
    failed+=("$sf:verify")
    continue
  fi
  echo "[gate] $sf: preverify" >&2
  python3 "$HERE/preverify.py" "$DATA/$sf" "$OUT/$sf" | tee "$OUT/$sf.preverify.log" | grep -v '^PASS '
  [ "${PIPESTATUS[0]}" -eq 0 ] || failed+=("$sf:preverify")
done
if [ ${#failed[@]} -gt 0 ]; then
  echo "[gate] FAILED: ${failed[*]}" >&2
  exit 1
fi
echo "[gate] all scale factors pass" >&2
