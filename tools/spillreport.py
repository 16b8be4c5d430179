#!/usr/bin/env python3
"""Build the committed SPILL_VERIFY artifact from a spillverify.sh run.

Usage: spillreport.py <verifyOut> <crossrungLog> <outJson> [configNote]

Combines the starved Verify's spill_metrics.json (per-query managed
spill accounting recorded INSIDE the gate run) with the crossrung
compare summary parsed from the log, so the committed artifact carries
both halves of the forced-spill claim: the oracle verdict AND the
proof the verdict was computed through the spill paths.
"""
import json, re, sys, collections

def main():
    out_dir, log_path, out_json = sys.argv[1], sys.argv[2], sys.argv[3]
    note = sys.argv[4] if len(sys.argv) > 4 else ""
    m = json.load(open(out_dir + "/spill_metrics.json"))
    log = open(log_path).read()
    summ = re.search(
        r"== (\d+) pass, (\d+) fail, (\d+) declared-rung-scoped, "
        r"(\d+) timeout of (\d+) ==", log)
    if not summ:
        sys.exit("no crossrung summary in " + log_path)
    failed = re.search(r"^FAILED: (.*)$", log, re.M)
    fam = collections.defaultdict(lambda: [0, 0, 0])
    for q, v in m.items():
        f = q.split("_")[0]
        fam[f][0] += v["disk_spill"]
        fam[f][1] += v["mem_spill"]
        fam[f][2] += 1
    spilled = sorted(
        ((q, v["disk_spill"]) for q, v in m.items() if v["disk_spill"] > 0),
        key=lambda kv: -kv[1])
    art = {
        "rung": "forced-spill correctness gate",
        "config": {
            "sf_dir": "testdata-sf10",
            "master": "local-cluster[4,8,4096]",
            "memory_fraction": 0.12,
            "shuffle_partitions": 8,
            "resilience": "task.maxFailures=8 + stage-level executor "
                          "exclusion (GraftSession enables under "
                          "SPARK_GRAFT_MEMORY_FRACTION)",
            "note": note,
        },
        "gate": {
            "pass": int(summ.group(1)), "fail": int(summ.group(2)),
            "declared": int(summ.group(3)), "timeout": int(summ.group(4)),
            "total": int(summ.group(5)),
            "failed_queries":
                failed.group(1).split(", ") if failed else [],
        },
        "spill": {
            "total_disk_bytes": sum(v["disk_spill"] for v in m.values()),
            "total_mem_bytes": sum(v["mem_spill"] for v in m.values()),
            "queries_with_disk_spill": len(spilled),
            "n_queries": len(m),
            "top_disk_spillers": dict(spilled[:15]),
            "per_family_disk": {
                f: d for f, (d, _, _) in sorted(
                    fam.items(), key=lambda kv: -kv[1][0]) if d > 0},
        },
    }
    json.dump(art, open(out_json, "w"), indent=1)
    print(json.dumps(art["gate"]))
    sp = art["spill"]
    print(f"== spill summary: total_disk={sp['total_disk_bytes']} "
          f"total_mem={sp['total_mem_bytes']} "
          f"queries_with_disk_spill={len(spilled)}/{len(m)} ==")
    for f, (d, mm, n) in sorted(fam.items(), key=lambda kv: -kv[1][0]):
        if d > 0:
            print(f"  family {f:<12} disk={d:>12} mem={mm:>13} ({n} queries)")
    print("spilling queries:", ",".join(q for q, _ in spilled))

if __name__ == "__main__":
    main()
