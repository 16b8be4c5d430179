#!/usr/bin/env python3
"""Plan-fingerprint diff gate (r12 judge ask #2).

Compares a fresh Verify run's plan_hashes.json against the committed
PLAN_HASHES.json baseline. A changed fingerprint means the STATIC
physical plan of a gate query changed — broadcast became shuffle, an
exchange appeared/disappeared, an operator was reordered. That class
of regression (the R11Probe3 leftover-exchange bug, the vacuous
q15/q16/q22 canaries) was previously caught only by hand probes.

Usage:
  planhash_diff.py <sfDir> <new.json> [query ...]
  planhash_diff.py --update <sfDir> <new.json>

The baseline is the committed PLAN_HASHES*.json of the rung named by
sfDir's last path component (BASELINES below); a rung without one is
reported on one line and passes. Without --update: exits 1 listing
drifted/new/missing queries. If the plan change is INTENTIONAL, re-run
with --update to refresh the baseline, and record why in PLANS.md.
With [query ...] only those queries are compared (subset iteration);
new/missing bookkeeping is skipped because a subset run dumps only
its own hashes.
"""
import sys, json, os

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
# Broadcast decisions legitimately differ across scales, so each
# measured rung carries its own committed baseline.
BASELINES = {"sf0.01": "PLAN_HASHES.json",
             "sf0.1": "PLAN_HASHES_sf0.1.json",
             "testdata-sf10": "PLAN_HASHES_sf10.json"}

def main():
    args = sys.argv[1:]
    update = args and args[0] == "--update"
    if update:
        args = args[1:]
    sf_dir, new_path = args[0], args[1]
    only = set(args[2:])
    rung = os.path.basename(sf_dir.rstrip("/"))
    if rung not in BASELINES:
        print(f"== plan gate: rung {rung!r} has no committed baseline ==")
        return 1 if update else 0
    baseline_path = os.path.join(ROOT, BASELINES[rung])
    with open(new_path) as f:
        new = json.load(f)
    try:
        with open(baseline_path) as f:
            baseline = json.load(f)
    except FileNotFoundError:
        baseline = {}
    if update:
        merged = dict(baseline)
        merged.update(new)
        with open(baseline_path, "w") as f:
            json.dump(dict(sorted(merged.items())), f, indent=1)
            f.write("\n")
        print(f"baseline updated: {len(new)} hashes -> {baseline_path}")
        return 0
    drifted = []
    for name, h in sorted(new.items()):
        if only and name not in only:
            continue
        old = baseline.get(name)
        if old is not None and old != h:
            drifted.append((name, old, h))
    added = [] if only else sorted(set(new) - set(baseline))
    missing = [] if only else sorted(set(baseline) - set(new))
    for name, old, h in drifted:
        print(f"PLAN DRIFT {name}: {old} -> {h}")
    for name in added:
        print(f"PLAN NEW   {name}: {new[name]} (no baseline entry)")
    for name in missing:
        print(f"PLAN GONE  {name}: baseline has it, run does not")
    if drifted or added or missing:
        print(f"== plan gate: {len(drifted)} drifted, {len(added)} new, "
              f"{len(missing)} missing ==")
        print("If intentional: tools/planhash_diff.py --update "
              f"{sf_dir} {new_path}  AND record why in PLANS.md")
        return 1
    n = len([k for k in new if not only or k in only])
    print(f"== plan gate: {n} fingerprints match baseline ==")
    return 0

if __name__ == "__main__":
    sys.exit(main())
