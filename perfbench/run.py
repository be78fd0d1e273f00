#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. Builds the engine sources and the harness
in perfbench/ with sbt (offline) the first time, or when a source changed,
then runs one workload in a fresh JVM on local[nproc]. Everything it writes
stays in the checkout: .bench_build/ (build stamp and classpath),
.bench_tmp/ (staging, checkpoints, ledgers; removed after the run) and, for
--trace 1, .bench_out/<workload>-seed<n>-trace.json (spans and counters).

The last line of standard output is the result:
    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}
with the end-to-end metrics (--trace 0) or the per-layer ones (--trace 1).
Exits 1 without a result line when the build or the run fails, and 1 after
the result line when an output was wrong.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
WORKLOADS = ("relay_bulk", "relay_paced", "catalog_mix")
RUN_TIMEOUT_S = 170

# the JDK 17 module openings Spark needs outside spark-submit
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def log(msg):
    print("[perfbench] " + msg, file=sys.stderr, flush=True)


def source_stamp():
    h = hashlib.sha256()
    trees = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")]
    files = [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for t in trees:
        for d, _, names in os.walk(t):
            files += [os.path.join(d, n) for n in names]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Compiles when the sources changed; returns the runtime classpath."""
    stamp_file = os.path.join(BUILD, "stamp")
    cp_file = os.path.join(BUILD, "classpath")
    stamp = source_stamp()
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as c:
                    return c.read().strip()
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", "-Dsbt.repository.config=" + repos]
    env["SBT_OPTS"] = " ".join(opts)
    log("building engine and harness with sbt")
    r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                        "export Runtime/fullClasspath"],
                       cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True, timeout=840)
    lines = r.stdout.strip().splitlines()
    if r.returncode != 0 or not lines:
        sys.stderr.write(r.stdout[-4000:])
        raise SystemExit("build failed")
    cp = lines[-1].strip()
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp


def expected_metrics(trace):
    path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.exists(path):
        return None
    with open(path) as f:
        spec = json.load(f)
    return [m["name"] for m in spec["per_layer" if trace else "end_to_end"]]


def main():
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--cpus", type=int, default=len(os.sched_getaffinity(0)),
                   help="Spark local[n] threads and send partitions (default: nproc)")
    p.add_argument("--record", action="store_true",
                   help="write the member fingerprints to perfbench/expected.json instead")
    a = p.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        raise SystemExit("no engine sources (src/main/scala) in this checkout")
    os.chdir(ROOT)
    cp = build()

    tmp = os.path.join(ROOT, ".bench_tmp", "%s-%d-%d" % (a.workload, a.seed, os.getpid()))
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    out = os.path.join(tmp, "result.json")
    report = (os.path.join(ROOT, ".bench_out", "%s-seed%d-trace.json" % (a.workload, a.seed))
              if a.trace else "")
    cmd = (["java"] + [x for p_ in ADD_OPENS for x in ("--add-opens", p_ + "=ALL-UNNAMED")] +
           ["-Xmx3g", "-Djava.io.tmpdir=" + tmp, "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC",
            "-XX:+UnlockDiagnosticVMOptions", "-XX:GCLockerRetryAllocationCount=64",
            "-cp", cp, "perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--out", out, "--report", report,
            "--data", os.path.join(HERE, "data"), "--tmp", tmp, "--cpus", str(a.cpus),
            "--record", "1" if a.record else "0"])
    # own process group, so a timeout also stops the load generator
    proc = subprocess.Popen(cmd, stdout=sys.stderr, stderr=sys.stderr, start_new_session=True)
    try:
        rc = proc.wait(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        shutil.rmtree(tmp, ignore_errors=True)
        raise SystemExit("run timed out")
    try:
        if rc != 0 or a.record:
            if rc != 0:
                raise SystemExit("run failed with exit code %d" % rc)
            return
        with open(out) as f:
            line = f.read().strip()
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    result = json.loads(line)
    names = expected_metrics(a.trace == 1)
    if names is not None and sorted(result["metrics"]) != sorted(names):
        raise SystemExit("metrics %s differ from BENCHMARK.json %s"
                         % (sorted(result["metrics"]), sorted(names)))
    print(json.dumps(result))
    sys.exit(0 if result["correct"] else 1)


if __name__ == "__main__":
    main()
