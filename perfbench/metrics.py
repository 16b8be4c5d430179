"""Turns the harness's raw record into the benchmark's metrics.

Pure functions over plain data, so the benchmark's own logic is tested
without a JVM (see test_metrics.py). Times in the record are epoch
microseconds for harness spans and epoch milliseconds for Spark's own
events, as named in graftbench/Main.scala and graftbench/Trace.scala.
"""

import math
import statistics

MB = 1e6

# Percentiles considered for the tail; the tail is the highest one that
# still has at least TAIL_BEYOND samples above it.
TAIL_LADDER = (50.0, 75.0, 90.0, 95.0, 99.0, 99.9)
TAIL_BEYOND = 10

KERNELS = ("graft_minhash", "graft_simhash", "graft_word_shingles",
           "graft_word_ngrams", "graft_term_counts", "graft_top_word_count",
           "graft_cosine", "graft_srp_buckets")


def nearest_rank(values, p):
    """The p-th percentile by nearest rank, and how many samples lie
    beyond its rank."""
    xs = sorted(values)
    k = max(1, math.ceil(p / 100.0 * len(xs)))
    return xs[k - 1], len(xs) - k


def tail(values):
    """(percentile, value, samples, samples beyond) for the highest
    ladder percentile with at least TAIL_BEYOND samples beyond it. With
    too few samples for any of them, the maximum (percentile 100, none
    beyond): the slowest query of the pass."""
    best = (100.0, max(values), len(values), 0)
    for p in TAIL_LADDER:
        v, beyond = nearest_rank(values, p)
        if beyond >= TAIL_BEYOND:
            best = (p, v, len(values), beyond)
    return best


def union_length(intervals, lo, hi):
    """Length of the union of [a, b) intervals, clipped to [lo, hi)."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals
                     if min(b, hi) > max(a, lo))
    total, cur_a, cur_b = 0, None, None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def self_times(spans):
    """Self time of every span: its duration minus the part of its
    interval that its children cover (overlapping children count once).
    `spans` maps id -> {"parent": id or None, "t0": .., "t1": ..}."""
    children = {}
    for sid, s in spans.items():
        children.setdefault(s["parent"], []).append(sid)
    out = {}
    for sid, s in spans.items():
        kids = [(spans[c]["t0"], spans[c]["t1"]) for c in children.get(sid, [])]
        out[sid] = (s["t1"] - s["t0"]) - union_length(kids, s["t0"], s["t1"])
    return out


def attribute_jobs(jobs, execs):
    """Assign every Spark job to (exec id, phase, tagged). A job carrying
    the harness's span property goes where the property says, if it
    started inside that execution. A job without it, or with a stale one
    (a pool thread keeps the properties of the call that created it),
    goes to the execution whose window contains its start and is
    counted as untagged. Returns ({job id: (exec id, phase, tagged)},
    untagged, unattributed); harness-internal jobs are left out."""
    # per execution, in ms: build [b0, b1), exec [b1, e1)
    windows = {e["id"]: (e["t0"] / 1e3, e["t1"] / 1e3, e["t2"] / 1e3) for e in execs}
    out, untagged, unattributed = {}, 0, 0
    for j in jobs:
        tag = j.get("tag")
        if tag == "harness":
            continue
        if tag:
            qid, phase = tag.split("/", 1)
            w = windows.get(int(qid))
            if w and w[0] <= j["t0"] < w[2]:
                out[j["job"]] = (int(qid), phase, True)
                continue
        hit = None
        for qid, (b0, b1, e1) in windows.items():
            if b0 <= j["t0"] < e1:
                hit = (qid, "build" if j["t0"] < b1 else "exec", False)
                break
        if hit is None:
            unattributed += 1
        else:
            untagged += 1
            out[j["job"]] = hit
    return out, untagged, unattributed


def digest_failures(digests, expected):
    """Query name -> reason, for every query whose content digest is an
    error or differs from the expected one."""
    bad = {}
    for q, got in sorted(digests.items()):
        want = expected.get(q)
        if got.startswith("ERR:"):
            bad[q] = got
        elif want is None:
            bad[q] = "no expected digest recorded"
        elif got != want:
            bad[q] = "digest %s, expected %s" % (got, want)
    return bad


def run_outcome(record, expected):
    """(attempted, failed, {query: [reasons]}) over every query
    execution of the run plus the digest check of every roster query."""
    reasons = {}
    for e in record["execs"]:
        if e["error"]:
            reasons.setdefault(e["query"], []).append(e["error"])
    for q, why in digest_failures(record["digests"], expected).items():
        reasons.setdefault(q, []).append(why)
    attempted = len(record["execs"]) + len(record["digests"])
    failed = (sum(1 for e in record["execs"] if e["error"]) +
              len(digest_failures(record["digests"], expected)))
    return attempted, failed, reasons


def pass_wall(p):
    return (p["t1"] - p["t0"]) / 1e6


def end_to_end(record):
    """The untraced run's end-to-end metrics. A failed execution's time
    is left out of every figure: out of its pass's wall and out of the
    per-query samples."""
    failed_us = {}
    for e in record["execs"]:
        if e["error"]:
            failed_us[e["pass"]] = failed_us.get(e["pass"], 0) + e["t2"] - e["t0"]

    def wall(p):
        return pass_wall(p) - failed_us.get(p["pass"], 0) / 1e6

    cold = [wall(p) for p in record["passes"] if p["pass"] == 0]
    walls = [wall(p) for p in record["passes"] if p["pass"] > 0]
    times = [(e["t2"] - e["t0"]) / 1e6 for e in record["execs"]
             if e["pass"] > 0 and not e["error"]] or [0.0]
    p, v, n, beyond = tail(times)
    return {
        "setup_s": record["setup_s"],
        "cold_s": cold[0],
        "wall_s": statistics.median(walls),
        "query_p50_s": statistics.median(times),
        "query_tail_s": v,
        "heap_retained_mb": record["heap_retained_bytes"] / MB,
    }, {"query_tail_percentile": p, "query_samples": n,
        "query_tail_beyond": beyond, "steady_passes": len(walls)}


def _in(t, windows):
    return any(a <= t < b for a, b in windows)


def per_layer(record):
    """The traced run's per-layer metrics, per traced steady pass."""
    tr = record["trace"]
    traced = [p for p in record["passes"] if p["traced"] and p["pass"] > 0]
    untraced = [p for p in record["passes"] if not p["traced"] and p["pass"] > 0]
    n = max(1, len(traced))
    pass_ids = {p["pass"] for p in traced}
    windows = [(p["t0"] / 1e3, p["t1"] / 1e3) for p in traced]
    execs = [e for e in record["execs"] if e["pass"] in pass_ids]
    cold_execs = [e for e in record["execs"] if e["pass"] == 0]
    jobs = [j for j in tr["jobs"] if _in(j["t0"], windows)]
    attributed, untagged, unattributed = attribute_jobs(jobs, execs)
    by_id = {j["job"]: j for j in jobs}
    stage_job = {}
    for j in jobs:
        for s in j["stages"]:
            stage_job.setdefault(s, j["job"])
    stages = [s for s in tr["stages"] if s["stage"] in stage_job and s["tasks"] > 0]

    def stage_sum(key, pick=lambda s: True):
        return sum(s[key] for s in stages if pick(s))

    def in_phase(phase):
        return lambda s: attributed.get(stage_job[s["stage"]], (0, ""))[1] == phase

    # spans: pass -> query -> build/exec -> job; a phase's self time is
    # the driver-side time no Spark job of that phase covers
    spans = {}
    for e in execs:
        spans["b%d" % e["id"]] = {"parent": "q%d" % e["id"], "t0": e["t0"] / 1e3,
                                  "t1": e["t1"] / 1e3}
        spans["e%d" % e["id"]] = {"parent": "q%d" % e["id"], "t0": e["t1"] / 1e3,
                                  "t1": e["t2"] / 1e3}
    for jid, (qid, phase, _) in attributed.items():
        j = by_id[jid]
        spans["j%d" % jid] = {"parent": "%s%d" % (phase[0], qid),
                              "t0": j["t0"], "t1": j["t1"]}
    self_ms = self_times(spans)
    build_self = sum(v for k, v in self_ms.items() if k.startswith("b")) / 1e3

    build_s = sum(e["t1"] - e["t0"] for e in execs) / 1e6
    exec_s = sum(e["t2"] - e["t1"] for e in execs) / 1e6
    wall = sum(pass_wall(p) for p in traced)
    cores = record["stamp"]["nproc"]
    task_s = stage_sum("run_ms") / 1e3
    in_bytes = stage_sum("in_bytes")
    sw = stage_sum("shuffle_write")

    # peak persisted bytes inside the traced passes
    cache_peak = max([b for t, b in tr["cache_samples"] if _in(t, windows)] or [0])

    progress = [b for b in tr["stream_progress"] if _in(b["t"], windows)]
    batch_ms = [b["trigger_ms"] for b in progress]

    cold_build = sum(e["t1"] - e["t0"] for e in cold_execs) / 1e6
    cold_windows = [(p["t0"] / 1e3, p["t1"] / 1e3)
                    for p in record["passes"] if p["pass"] == 0]
    cold_jobs = [j for j in tr["jobs"] if _in(j["t0"], cold_windows)]
    cold_attr, cold_untagged, _ = attribute_jobs(cold_jobs, cold_execs)
    cold_stage_job = {}
    for j in cold_jobs:
        for s in j["stages"]:
            cold_stage_job.setdefault(s, j["job"])
    cold_build_task = sum(
        s["run_ms"] for s in tr["stages"]
        if s["stage"] in cold_stage_job and
        cold_attr.get(cold_stage_job[s["stage"]], (0, ""))[1] == "build") / 1e3

    traced_wall = statistics.median([pass_wall(p) for p in traced])
    untraced_wall = statistics.median([pass_wall(p) for p in untraced])
    m = {
        "queries.build_s": build_s / n,
        "queries.exec_s": exec_s / n,
        "queries.build_self_s": build_self / n,
        "queries.build_jobs": sum(1 for v in attributed.values() if v[1] == "build") / n,
        "queries.untagged_jobs": untagged / n,
        "queries.cold_build_s": cold_build,
        "queries.cold_untagged_jobs": cold_untagged,
        "operators.build_task_s": stage_sum("run_ms", in_phase("build")) / 1e3 / n,
        "operators.cold_build_task_s": cold_build_task,
        "operators.result_mb": stage_sum("result_bytes", in_phase("build")) / MB / n,
        "operators.cache_peak_mb": cache_peak / MB,
        "sources.scan_s": sum(s["s"] for s in record["scans"]),
        "sources.input_mb": in_bytes / MB / n,
        "sources.input_rows": stage_sum("in_rows") / n,
        "sources.output_mb": stage_sum("out_bytes") / MB / n,
        "sources.output_rows": stage_sum("out_rows") / n,
        "streaming.batches": len(progress) / n,
        "streaming.batch_p50_ms": statistics.median(batch_ms) if batch_ms else 0.0,
        "streaming.commit_s": sum(b["commit_ms"] for b in progress) / 1e3 / n,
        "streaming.state_rows": sum(b["state_rows"] for b in progress) / n,
        "streaming.state_mb": sum(b["state_bytes"] for b in progress) / MB / n,
        "spark.jobs": len(attributed) / n,
        "spark.stages": len(stages) / n,
        "spark.tasks": stage_sum("tasks") / n,
        "spark.failed_tasks": stage_sum("failed_tasks") / n,
        "spark.task_s": task_s / n,
        "spark.cpu_s": stage_sum("cpu_ns") / 1e9 / n,
        "spark.gc_s": stage_sum("gc_ms") / 1e3 / n,
        "spark.core_util": task_s / (wall * cores) if wall else 0.0,
        "spark.sched_wait_s": sum(max(0, s["first_launch"] - s["t0"])
                                  for s in stages) / 1e3 / n,
        "spark.shuffle_write_mb": sw / MB / n,
        "spark.shuffle_read_mb": stage_sum("shuffle_read") / MB / n,
        "spark.shuffle_fetch_wait_s": stage_sum("fetch_wait_ms") / 1e3 / n,
        "spark.spill_mb": stage_sum("spill") / MB / n,
        "spark.shuffle_per_input": sw / in_bytes if in_bytes else 0.0,
        "driver.gc_s": sum(p["driver_gc_ms"] for p in traced) / 1e3 / n,
        "trace.wall_s": traced_wall,
        "trace.overhead_s": traced_wall - untraced_wall,
        "trace.unaccounted_s": (wall - build_s - exec_s) / n,
    }
    kernels = {k["kernel"]: k for k in record["kernels"]}
    for k in KERNELS:
        m["plans.%s_s" % k] = kernels[k]["s"] if k in kernels else 0.0
    info = {"untagged_jobs": untagged, "unattributed_jobs": unattributed,
            "traced_passes": len(traced), "untraced_passes": len(untraced),
            "kernel_inputs": {k: {"rows": v["rows"], "mb": v["bytes"] / MB}
                              for k, v in kernels.items()},
            "scans": record["scans"]}
    return m, info
