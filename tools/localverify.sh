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
  if [ $# -gt 0 ]; then
    export SPARK_GRAFT_VERIFY_QUERIES=$(IFS=,; echo "$*")
  fi
  SPARK_HOME=/opt/spark SPARK_SCALA_VERSION=2.13 \
    exec tools/runmain.sh graft.R14Determinism "$SF"
fi
SF=${1:-/root/testdata/sf0.01}
shift || true
OUT=/tmp/verify_out
rm -rf "$OUT"
cd "$(dirname "$0")/.."
if [ $# -gt 0 ]; then
  SUBSET=$(IFS=,; echo "$*")
  export SPARK_GRAFT_VERIFY_QUERIES="$SUBSET"
fi
sbt "runMain graft.Verify $SF $OUT" 2>&1 | grep -E "\[verify\]|error|Exception" || true
python3 tools/compare.py "$SF" "$OUT" "$@"
# plan-fingerprint gate (r12; r13 made it PER-RUNG): static-plan
# drift fails loudly. Broadcast decisions legitimately differ across
# scales, so each measured rung carries its OWN committed baseline —
# the 5 stats-driven flips are explicit per-rung entries now instead
# of a prose note in SCALING.
case "$SF" in
  /root/testdata/sf0.01) BASELINE=PLAN_HASHES.json ;;
  /root/testdata/sf0.1)  BASELINE=PLAN_HASHES_sf0.1.json ;;
  *testdata-sf10)        BASELINE=PLAN_HASHES_sf10.json ;;
  *)                     BASELINE= ;;
esac
if [ -n "$BASELINE" ] && [ -f "$BASELINE" ]; then
  python3 tools/planhash_diff.py "$BASELINE" "$OUT/plan_hashes.json" "$@"
fi
