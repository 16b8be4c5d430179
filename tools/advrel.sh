#!/bin/bash
# Adversarial RELATIONAL rung (r15): regenerate the hostile + empty-facts
# table sets and run the ~49-query relational/temporal gate subset
# against both, DuckDB-oracle-compared like the main gate.
# Usage: tools/advrel.sh
# Expect: hostile == 49 pass, 0 fail; empty == 49 pass, 0 fail (the r15
# declared divergence — Spark grouping-sets over EMPTY input emitting
# no global () row — is closed in r16 by the two-level empty-safe plan;
# see PLANS.md "empty-safe two-level refresh").
set -e
cd "$(dirname "$0")/.."
REL="q1_agg q6_filter_agg q3_topn q5_multijoin join_semi join_anti join_outer \
window_rank window_running window_ntile agg_rollup agg_cube agg_distinct \
agg_percentile agg_histogram agg_approx pivot_wide unpivot_long union_dedup \
topk_group asof_join range_join sessionize json_extract skew_join \
window_sliding_distinct funnel retention_cohort resample_ffill q4_exists \
q17_scalar q18_bigcust q19_disjunct q21_late_supplier q22_idle_rich \
agg_grouping_sets window_range_frame q2_min_cost_supp q7_volume \
q8_market_share q9_profit q10_returns q11_share_threshold q13_order_dist \
q14_promo_share q15_top_supplier q16_supplier_count q20_qty_surplus q12_shipmode"
tools/runmain.sh graft.R15AdversarialRelGen testdata-advrel 2>/dev/null | tail -1
tools/runmain.sh graft.R15AdversarialRelGen testdata-advrel-empty empty 2>/dev/null | tail -1
echo "== hostile rung =="
tools/runmain.sh graft.Verify testdata-advrel /tmp/advrel_out $REL \
  2>&1 | grep -E "\[verify\].*failed" || true
python3 tools/compare.py testdata-advrel /tmp/advrel_out $REL | grep -E "^FAIL|== "
echo "== empty-facts rung =="
tools/runmain.sh graft.Verify testdata-advrel-empty /tmp/advrel_empty_out $REL \
  2>&1 | grep -E "\[verify\].*failed" || true
python3 tools/compare.py testdata-advrel-empty /tmp/advrel_empty_out $REL | grep -E "^FAIL|== "
