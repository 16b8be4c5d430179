#!/bin/bash
# Local replica of the driver's t2 correctness gate.
# Usage: tools/localverify.sh [sfDir] [query ...]
#        tools/localverify.sh --determinism [sfDir] [query ...]
# With query args, only those queries are dumped AND compared (fast
# iteration on one oracle); without, the full suite runs like the
# driver's own gate. --determinism runs the redundant-execution drill
# (partition/AQE sweeps + injected kills + forced speculation;
# R14Determinism — cost per drill config priced in SCALING
# "determinism harness, priced") instead of the oracle compare;
# subset via query args. Expect ..."pass":true on the last line.
set -e
if [ "$1" = "--determinism" ]; then
  shift
  SF=${1:-/root/testdata/sf0.01}
  shift || true
  cd "$(dirname "$0")/.."
  SPARK_HOME=/opt/spark SPARK_SCALA_VERSION=2.13 \
    exec tools/runmain.sh graft.R14Determinism "$SF" \
    invariance,retry,speculation,clusterchaos "$@"
fi
SF=${1:-/root/testdata/sf0.01}
shift || true
OUT=/tmp/verify_out
rm -rf "$OUT"
cd "$(dirname "$0")/.."
sbt "runMain graft.Verify $SF $OUT $*" 2>&1 | grep -E "\[verify\]|error|Exception" || true
python3 tools/compare.py "$SF" "$OUT" "$@"
# plan-fingerprint gate: static-plan drift fails loudly against the
# rung's committed baseline (planhash_diff.py picks it)
python3 tools/planhash_diff.py "$SF" "$OUT/plan_hashes.json" "$@"
