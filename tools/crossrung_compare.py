#!/usr/bin/env python3
"""Cross-rung ORACLE insurance driver (r12 judge ask #6).

Runs tools/compare.py ONE QUERY AT A TIME against a ScaleUp rung's
Verify dump, each under a wall-clock budget, and prints a summary
table. Per-query isolation matters at 10x the driver rung: a single
DuckDB oracle that is infeasible at the larger corpus (the declared
O(n^2) pair kernels) must time out and be RECORDED as such instead of
hanging the whole insurance run or masking the other 140+ contracts.

Usage: crossrung_compare.py <sfDir> <verifyOut> [timeoutSec]
"""
import json, os, subprocess, sys, time

# Contracts DECLARED rung-scoped: valid at the driver rungs, known to
# differ at ScaleUp's identity-copy rungs for a NAMED generator-
# structure reason (not an engine defect). Each runs and is reported,
# but a mismatch counts as "declared", not a failure.
# r12 had one entry (layout_zorder: ScaleUp's block copy-offsets
# correlated partkey/suppkey and left the middle-decile span in an
# inter-island void). r13 fixed the GENERATOR (interleaved key
# mapping, see ScaleUp.scala) instead of relaxing the contract, so
# the set is empty — every oracle binds at every measured rung.
DRIVER_RUNG_SCOPED: set = set()

def main():
    sf_dir, out_dir = sys.argv[1], sys.argv[2]
    budget = int(sys.argv[3]) if len(sys.argv) > 3 else 900
    here = os.path.dirname(os.path.abspath(__file__))
    is_driver_rung = sf_dir.rstrip("/").startswith("/root/testdata/")
    oracles = json.load(open(os.path.join(out_dir, "oracle_sql.json")))
    # Verify writes oracle_sql.json for the FULL inventory even on a
    # subset dump; queries.json is the roster of what was actually
    # dumped — intersect, or a subset insurance run would burn a full
    # timeout per undumped heavy oracle (r13).
    roster_path = os.path.join(out_dir, "queries.json")
    roster = set(json.load(open(roster_path))) \
        if os.path.exists(roster_path) else set(oracles)
    queries = sorted(set(oracles) & roster)
    passed, failed, timed_out, declared = [], [], [], []
    for q in queries:
        t0 = time.time()
        try:
            r = subprocess.run(
                [sys.executable, os.path.join(here, "compare.py"),
                 sf_dir, out_dir, q],
                capture_output=True, text=True, timeout=budget)
            dt = time.time() - t0
            ok = r.returncode == 0
            scoped = (not ok) and (not is_driver_rung) \
                and q in DRIVER_RUNG_SCOPED
            (passed if ok else declared if scoped else failed).append((q, dt))
            tag = "pass" if ok else "decl" if scoped else "FAIL"
            print(f"[{tag}] {q:34s} {dt:7.1f}s", flush=True)
            if not ok:
                tail = (r.stdout + r.stderr).strip().splitlines()[-12:]
                for line in tail:
                    print("       " + line, flush=True)
        except subprocess.TimeoutExpired:
            timed_out.append((q, budget))
            print(f"[TIME] {q:34s} >{budget}s (oracle infeasible at "
                  "this rung; record + justify)", flush=True)
    # per-rung plan-fingerprint gate: planhash_diff.py picks the rung's
    # committed baseline, so drift WITHIN a rung fails loudly
    plan_drift = False
    hashes = os.path.join(out_dir, "plan_hashes.json")
    if os.path.exists(hashes):
        # on a SUBSET insurance run (roster < full oracle set) pass the
        # dumped-query list so planhash_diff runs in subset mode —
        # otherwise every undumped query reads as PLAN GONE against the
        # full committed baseline and the run exits 1 spuriously (r13
        # advisor). Intersect with the hashes actually dumped, like
        # localverify.sh forwarding "$@".
        hashed = set(json.load(open(hashes)))
        argv = [sys.executable, os.path.join(here, "planhash_diff.py"),
                sf_dir, hashes]
        if roster < set(oracles):
            argv += sorted(roster & hashed)
        r = subprocess.run(argv, capture_output=True, text=True)
        print()
        print(r.stdout.strip())
        plan_drift = r.returncode != 0
    print(f"\n== {len(passed)} pass, {len(failed)} fail, "
          f"{len(declared)} declared-rung-scoped, "
          f"{len(timed_out)} timeout of {len(queries)} ==")
    slow = sorted(passed, key=lambda kv: -kv[1])[:10]
    print("slowest oracles:", ", ".join(f"{q}={t:.0f}s" for q, t in slow))
    if failed:
        print("FAILED:", ", ".join(q for q, _ in failed))
    if declared:
        print("DECLARED (see DRIVER_RUNG_SCOPED):",
              ", ".join(q for q, _ in declared))
    if timed_out:
        print("TIMED OUT:", ", ".join(q for q, _ in timed_out))
    sys.exit(1 if failed or plan_drift else 0)

if __name__ == "__main__":
    main()
