#!/usr/bin/env python3
"""graft's benchmark: one named workload, one closed-loop client.

    python3 perfbench/run.py --workload ingest --seed 1 --seconds 5 --trace 0

Run from the root of a checkout. The first run builds the program and
the harness from source with sbt into .bench_build/; later runs reuse
the build until a source file changes. The last line of stdout is one
JSON object: {"correct", "attempted", "failed", "metrics"}. With
--trace 0 the metrics are the end-to-end ones, with --trace 1 the
per-layer ones. See perfbench/README.md.
"""

import argparse
import fcntl
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import metrics  # noqa: E402
import workloads  # noqa: E402

ROOT = os.getcwd()
BUILD = os.path.join(ROOT, ".bench_build")
# a run must end within 180 s; a hung query fails the run instead
HARNESS_TIMEOUT_S = 165

# Spark 4 on JDK 17 needs these outside spark-submit (the same list the
# program's own build passes to its forked JVMs).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(*a):
    print(*a, file=sys.stderr, flush=True)


def tree_digest(paths):
    """SHA-256 over every regular file under `paths` (names and bytes)."""
    h = hashlib.sha256()
    files = []
    for p in paths:
        if os.path.isfile(p):
            files.append(p)
        for d, dirs, names in os.walk(p):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
            files += [os.path.join(d, n) for n in names]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            for chunk in iter(lambda: fh.read(1 << 20), b""):
                h.update(chunk)
    return h.hexdigest()


def source_paths():
    return [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
            os.path.join(ROOT, "src", "main"), os.path.join(HERE, "build.sbt"),
            os.path.join(HERE, "src")]


def driver_heap():
    """The program's tier-1 heap rule: half the host's memory, 2g to 8g."""
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
        g = kb // 2097152
    except (OSError, StopIteration, ValueError):
        g = 2
    return "%dg" % min(8, max(2, g))


def build():
    """Compile the program and the harness; write the harness classpath."""
    stamp = os.path.join(BUILD, "build.stamp")
    digest = tree_digest(source_paths())
    cp = os.path.join(BUILD, "classpath.txt")
    if os.path.exists(stamp) and open(stamp).read() == digest and os.path.exists(cp):
        return cp
    env = dict(os.environ)
    env["COURSIER_MODE"] = "offline"
    opts = ["-Dsbt.offline=true", "-Xmx2g", "-XX:-UsePerfData"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", "-Dsbt.repository.config=" + repos]
    env["SBT_OPTS"] = " ".join(opts)
    log("building program and harness with sbt ...")
    r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "writeClasspath"],
                       cwd=HERE, env=env, stdout=sys.stderr, stderr=sys.stderr,
                       stdin=subprocess.DEVNULL)
    if r.returncode != 0:
        raise SystemExit("build failed (sbt exit %d)" % r.returncode)
    shutil.copyfile(os.path.join(HERE, "target", "classpath.txt"), cp)
    with open(stamp, "w") as f:
        f.write(digest)
    return cp


def java_cmd(cp, tmp, main, args):
    opens = [x for p in ADD_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")]
    return (["java"] + opens + [
        "-Xmx" + driver_heap(),
        # no hsperfdata file in the system temp directory
        "-XX:-UsePerfData",
        "-Djava.io.tmpdir=" + tmp,
        "-Dspark.local.dir=" + tmp,
        "-Dspark.sql.warehouse.dir=" + os.path.join(tmp, "warehouse"),
        "-Dderby.system.home=" + tmp,
        "-Dlog4j2.level=ERROR",
        "-cp", open(cp).read().strip(), main] + args)


def measure(cp, tmp, w, data, a):
    """Run the harness JVM on one workload; return its raw record."""
    out = os.path.join(tmp, "record.json")
    args = ["--roster", ",".join(w["roster"]), "--data", data,
            "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--passes", str(w["passes"]),
            "--trace", str(a.trace), "--out", out]
    if a.trace:
        args += ["--kernels", workloads.kernel_input(HERE)]
    p = subprocess.Popen(java_cmd(cp, tmp, "graftbench.Main", args), cwd=tmp,
                         stdout=sys.stderr, stderr=sys.stderr, stdin=subprocess.DEVNULL)
    try:
        rc = p.wait(timeout=HARNESS_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        raise SystemExit("harness exceeded %d s" % HARNESS_TIMEOUT_S)
    finally:
        if p.poll() is None:
            p.kill()
            p.wait()
    if rc != 0 or not os.path.exists(out):
        raise SystemExit("harness failed (exit %d)" % rc)
    with open(out) as f:
        return json.load(f)


def main():
    # a terminated run still stops and waits for its JVM (see measure())
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    if not (os.path.isfile(os.path.join(ROOT, "build.sbt")) and
            os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        raise SystemExit("not the root of a graft checkout: no build.sbt / src/main/scala here")
    os.makedirs(BUILD, exist_ok=True)
    w = workloads.WORKLOADS[a.workload]

    # one build per checkout, even if runs overlap
    with open(os.path.join(BUILD, "build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        cp = build()
    data = workloads.inputs(w, HERE)

    tmp = tempfile.mkdtemp(prefix="run-", dir=BUILD)
    try:
        record = measure(cp, tmp, w, data, a)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    # the raw record (every span and Spark event) stays for inspection
    os.makedirs(os.path.join(BUILD, "records"), exist_ok=True)
    with open(os.path.join(BUILD, "records", "%s-seed%d-trace%d.json" % (
            a.workload, a.seed, a.trace)), "w") as f:
        json.dump(record, f)

    with open(os.path.join(HERE, "expected", a.workload + ".json")) as f:
        expected = json.load(f)
    attempted, failed, reasons = metrics.run_outcome(record, expected)
    for q, why in sorted(reasons.items()):
        log("FAILED %s: %s" % (q, " | ".join(why)))

    if a.trace:
        values, info = metrics.per_layer(record)
        names = workloads.PER_LAYER
    else:
        values, info = metrics.end_to_end(record)
        names = workloads.END_TO_END
        info.update({k: {"value": values[k], "unit": u} for k, u in workloads.QUERY_TIMES})
    info["failed_frac"] = failed / attempted
    stamp = dict(record["stamp"], workload=a.workload, seed=a.seed,
                 seconds=a.seconds, trace=a.trace, roster=w["roster"],
                 source_sha256=tree_digest(source_paths()),
                 input_sha256=tree_digest([data]))
    print(json.dumps({"stamp": stamp, "info": info,
                      "failures": {q: why for q, why in sorted(reasons.items())}}))
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": values[k], "unit": u} for k, u in names},
    }))


if __name__ == "__main__":
    main()
