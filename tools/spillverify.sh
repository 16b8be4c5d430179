#!/bin/bash
# Forced-spill correctness rung (r16, judge ask #1): run the FULL
# oracle gate with execution memory deliberately starved so the
# SortMergeJoin/hash-agg/window SPILL paths genuinely execute, then
# oracle-compare every query. A 1000-executor deployment lives in
# spill; every prior gate rung ran at total_spill 0, so results
# produced through the spill code paths had never been validated.
#
# Config: testdata-sf10 (the 10x rung — sf0.1 is too small to spill
# at ANY memory fraction: per-task state stays under the page-size
# floor), spark.memory.fraction=0.12 under local-cluster[4,8,4096]
# => managed pool ~455 MB per 4 GiB executor shared by 8 task threads
# ~= 57 MB execution memory per concurrent task, 8 shuffle partitions
# to fatten per-task state. Starving the MANAGED pool forces the spill
# paths; the per-executor HEAP stays the r13 multi-JVM gate's proven
# 4 GiB, because starving the heap just OOMs unmanaged state — the
# single-JVM local[16] form of this rung died twice that way
# (one task-thread OOM stops the shared local SparkContext and
# strands the remaining roster). Real executor JVMs make the rung
# honest about failure: an executor OOM kills THAT executor, tasks
# reschedule (Verify raises task.maxFailures + executor-level
# exclusion under this env), the gate continues — the 1000-executor
# behavior this rung models. Fraction floor is 0.12, not 0.05: at
# 0.05 the roster spill-thrashed (45 GB mem-spill on sessionize
# alone) and agg_approx's merge phase deterministically OOM'd the
# 4 GiB executors — each spill FILE costs an unmanaged read buffer
# at merge time, so over-starving the managed pool trades managed bytes
# for thousands of unmanaged buffers and the heap loses.
#
# Usage: tools/spillverify.sh [outDir]
# Expect: crossrung summary "== 162 pass, 0 fail ..." and the
# spill-family summary listing nonzero disk spill for join/agg/window;
# outDir keeps the crossrung log and spillreport.py's record
# (spill_verify.json, the SPILL_VERIFY artifact).
set -e -o pipefail
cd "$(dirname "$0")/.."
OUT=${1:-/tmp/verify_spill_sf10}
rm -rf "$OUT"
SPARK_GRAFT_MEMORY_FRACTION=0.12 SPARK_DRIVER_MEM=8g \
  SPARK_GRAFT_MASTER='local-cluster[4,8,4096]' \
  SPARK_GRAFT_SHUFFLE_PARTITIONS=8 \
  SPARK_HOME=/opt/spark SPARK_SCALA_VERSION=2.13 \
  tools/runmain.sh graft.Verify testdata-sf10 "$OUT" \
  2>&1 | grep -E "\[verify\].*failed" || true
python3 tools/crossrung_compare.py testdata-sf10 "$OUT" 900 \
  | tee "$OUT/crossrung.log" && rc=0 || rc=$?
python3 tools/spillreport.py "$OUT" "$OUT/crossrung.log" "$OUT/spill_verify.json"
exit $rc
