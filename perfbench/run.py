#!/usr/bin/env python3
"""Run one benchmark workload from the root of a checkout.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the program and the harness from source when they changed (sbt,
offline), generates the seeded inputs once per (workload, seed), then runs
the measured JVM and prints its result JSON as the last stdout line.
Everything it writes goes under `.bench_build/` in the checkout. See
perfbench/README.md for the workloads and metrics.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

WORKLOADS = ("convert_bulk", "dedup")
SPARK_JARS = "/opt/spark/jars"
HEAP = "2g"
# The result must be out within 180 s of the start of a run; builds are
# allowed 900 s on their own.
RUN_BUDGET_S = 170
BUILD_BUDGET_S = 840
JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg):
    log(msg)
    sys.exit(2)


def source_hash(root):
    h = hashlib.sha256()
    dirs = [os.path.join(root, "src", "main"), os.path.join(root, "perfbench", "src")]
    files = [os.path.join(root, "perfbench", "build.sbt"),
             os.path.join(root, "perfbench", "project", "build.properties")]
    for d in dirs:
        for base, _, names in os.walk(d):
            files += [os.path.join(base, n) for n in names]
    for f in sorted(files):
        h.update(os.path.relpath(f, root).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def run(cmd, timeout, **kw):
    """Run `cmd` to completion with its stdout on our stderr; kill it on timeout."""
    proc = subprocess.Popen(cmd, stdout=sys.stderr, **kw)
    try:
        return proc.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        fail(f"timed out after {timeout:.0f} s: {' '.join(cmd[:3])} ...")


def build(root, classes, stamp):
    digest = source_hash(root)
    if os.path.isdir(classes) and os.path.exists(stamp) and open(stamp).read() == digest:
        return
    log("building program and harness (sbt, offline)")
    env = dict(os.environ, COURSIER_MODE="offline", SBT_OPTS=" ".join([
        "-Dsbt.override.build.repos=true",
        f"-Dsbt.repository.config={os.path.expanduser('~/.sbt/repositories')}",
        "-Dsbt.offline=true", "-Xmx2g"]))
    rc = run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile"], BUILD_BUDGET_S,
             cwd=os.path.join(root, "perfbench"), env=env, stdin=subprocess.DEVNULL)
    if rc != 0:
        fail(f"build failed (sbt exit {rc})")
    os.makedirs(os.path.dirname(stamp), exist_ok=True)
    with open(stamp, "w") as f:
        f.write(digest)


def generate(kind, seed, out, classpath, deadline):
    """Seeded inputs of one kind, made once and reused; returns seconds spent."""
    done = os.path.join(out, "DONE")
    if os.path.exists(done):
        return float(open(done).read())
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    t0 = time.time()
    here = os.path.dirname(os.path.abspath(__file__))
    if kind in ("convert_bulk", "probe"):
        rc = run(["java", "-Xmx1g", "-cp", classpath, "perfbench.Gen", kind, str(seed), out],
                 deadline - time.time())
        if rc != 0:
            fail(f"input generation failed for {kind}")
    if kind != "convert_bulk":
        rc = run([sys.executable, os.path.join(here, "gen.py"), kind, str(seed), out],
                 deadline - time.time())
        if rc != 0:
            fail(f"input generation failed for {kind}")
    spent = time.time() - t0
    with open(done, "w") as f:
        f.write(repr(spent))
    return spent


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if args.workload not in WORKLOADS:
        fail(f"unknown workload {args.workload!r}; one of {', '.join(WORKLOADS)}")
    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, "src", "main", "scala", "graft")):
        fail("run from the root of a checkout: src/main/scala/graft is missing")
    if not os.path.isdir(SPARK_JARS):
        fail(f"{SPARK_JARS} is missing")

    work = os.path.join(root, ".bench_build", "perfbench")
    classes = os.path.join(root, "perfbench", "target", "scala-2.13", "classes")
    build(root, classes, os.path.join(work, "build.stamp"))
    classpath = f"{classes}:{SPARK_JARS}/*"

    start = time.time()
    deadline = start + RUN_BUDGET_S
    inputs = os.path.join(work, "inputs", f"{args.workload}-{args.seed}")
    gen_s = generate(args.workload, args.seed, inputs, classpath, deadline)
    probe = os.path.join(work, "inputs", f"probe-{args.seed}")
    if args.trace:
        gen_s += generate("probe", args.seed, probe, classpath, deadline)

    tmp = os.path.join(work, "tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    shutil.rmtree(os.path.join(work, "out"), ignore_errors=True)
    os.makedirs(tmp)
    nproc = len(os.sched_getaffinity(0))
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(nproc), SPARK_LOCAL_DIRS=tmp)
    # a fixed-size heap and the throughput collector keep GC from resizing
    # or pausing differently from run to run
    cmd = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+UseParallelGC", f"-Djava.io.tmpdir={tmp}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in JDK17_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", classpath, "perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", repr(args.seconds), "--trace", str(args.trace),
            "--inputs", inputs, "--probe", probe, "--work", work, "--gen_s", repr(gen_s)]
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, env=env, text=True)
    try:
        out, _ = proc.communicate(timeout=max(1.0, deadline - time.time()))
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        fail(f"run exceeded {RUN_BUDGET_S} s")
    lines = [l for l in out.splitlines() if l.strip()]
    if proc.returncode != 0 or not lines:
        fail(f"measured JVM exited with {proc.returncode}")
    json.loads(lines[-1])
    sys.stdout.write("".join(l + "\n" for l in lines[:-1]))
    print(lines[-1])


if __name__ == "__main__":
    main()
