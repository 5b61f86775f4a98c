#!/usr/bin/env bash
# Commit gate (VERDICT r10 item 2): the round-10 snapshot was committed
# without a compile check and HEAD broke, voiding the driver's round
# artifacts. Run this before ANY commit touching src/; run with `smoke`
# before the end-of-round snapshot.
#
#   tools/gate.sh          # sbt -batch Test/compile: main AND tests (~10 s incremental)
#   tools/gate.sh smoke    # Test/compile + Verify on sf0.001 + oracle compare (~2 min)
#
# Exit nonzero on any failure.
set -euo pipefail
cd "$(dirname "$0")/.."

echo "[gate] sbt -batch Test/compile"
sbt -batch Test/compile >/tmp/gate_compile.log 2>&1 || {
  echo "[gate] COMPILE FAILED"; tail -30 /tmp/gate_compile.log; exit 1; }
echo "[gate] compile OK"

if [[ "${1:-}" == "smoke" ]]; then
  rm -rf /tmp/gate_vout
  echo "[gate] Verify sf0.001"
  SPARK_GRAFT_CPUS="$(nproc)" sbt -batch "runMain graft.Verify /root/testdata/sf0.001 /tmp/gate_vout" \
    >/tmp/gate_verify.log 2>&1 || {
    echo "[gate] VERIFY FAILED"; grep -a '\[verify\]' /tmp/gate_verify.log | tail -20; exit 1; }
  echo "[gate] oracle compare sf0.001"
  python3 tools/compare_oracle.py /root/testdata/sf0.001 /tmp/gate_vout \
    >/tmp/gate_oracle.log 2>&1 || {
    echo "[gate] ORACLE COMPARE FAILED"; grep -a FAIL /tmp/gate_oracle.log | tail -20; exit 1; }
  tail -1 /tmp/gate_oracle.log
  python3 tools/survey_check.py /tmp/gate_vout
  echo "[gate] smoke OK"
fi
