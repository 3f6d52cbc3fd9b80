#!/usr/bin/env python3
"""Benchmark of the zarr-spark connector.

    python3 perfbench/run.py --workload grid_scan --seed 1 --seconds 15 --trace 0

Run from the root of a checkout. The first run builds the connector from
the checkout's sources together with the benchmark's code (sbt, offline);
later runs reuse the build while no source file changes. The benchmark then
runs one workload in a fresh JVM: it generates its inputs from the seed,
times a closed loop of operations for --seconds, checks every answer and
prints one JSON object as the last line of stdout. --trace 1 runs the
same workload with per-layer timing instead (see perfbench/README.md).

Artifacts go to perfbench/out/<workload>-seed<seed>-trace<t>/: env.json
(machine, load, heap, seed, commit), result.json and, when traced,
spans.json. Inputs are generated under perfbench/.work/ and deleted at
the end of the run.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("grid_scan", "grid_slice")
XMX = "2g"
BUILD_TIMEOUT_S = 850
RUN_TIMEOUT_S = 170
# One collector thread of each kind, like the one task thread.
GC_FLAGS = ["-XX:ParallelGCThreads=1", "-XX:ConcGCThreads=1"]
CLASSPATH = os.path.join(HERE, "target", "bench-classpath.txt")
STAMP = os.path.join(HERE, "target", "bench-build.stamp")
# Spark on JDK 17 needs these outside spark-submit (the root build.sbt
# passes the same list to forked runs).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def die(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def whole(name, text, low):
    try:
        value = int(text)
    except ValueError:
        die(f"--{name} must be a whole number, got {text!r}")
    if value < low:
        die(f"--{name} must be at least {low}, got {value}")
    return value


def parse_args():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True)
    ap.add_argument("--seconds", required=True)
    ap.add_argument("--trace", default="0", choices=("0", "1"))
    ap.add_argument("--threads", default="1",
                    help="Spark local[N] thread count (default 1; see perfbench/README.md)")
    a = ap.parse_args()
    a.seed = whole("seed", a.seed, 0)
    a.seconds = whole("seconds", a.seconds, 1)
    # One task thread by default: on a shared host the speed of one thread is
    # what the host-speed loop measures and scales away (perfbench/README.md);
    # several task threads also depend on how many cores the host gives.
    a.threads = whole("threads", a.threads, 1)
    return a


def source_digest():
    """Digest of every file the build reads; the build is redone when it changes."""
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for base in (os.path.join(ROOT, "project"), os.path.join(HERE, "project"),
                 os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        for d, dirs, names in os.walk(base):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
            files += [os.path.join(d, n) for n in names if d != base or not n.startswith(".")]
    h = hashlib.sha256()
    for f in sorted(set(files)):
        if os.path.isfile(f):
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build(digest):
    if os.path.exists(CLASSPATH) and os.path.exists(STAMP):
        with open(STAMP) as fh:
            if fh.read().strip() == digest:
                return
    print("perfbench: building the connector and the benchmark (sbt)", file=sys.stderr)
    t0 = time.time()
    r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "-J-XX:-UsePerfData", "writeClasspath"],
                       cwd=HERE, stdout=sys.stderr, stderr=sys.stderr, stdin=subprocess.DEVNULL,
                       timeout=BUILD_TIMEOUT_S)
    if r.returncode != 0 or not os.path.exists(CLASSPATH):
        die(f"build failed (sbt exit code {r.returncode})", 1)
    with open(STAMP, "w") as fh:
        fh.write(digest + "\n")
    print(f"perfbench: built in {time.time() - t0:.1f} s", file=sys.stderr)


def git_commit():
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                           text=True, timeout=10)
        return r.stdout.strip() if r.returncode == 0 else None
    except (OSError, subprocess.TimeoutExpired):
        return None


def main():
    a = parse_args()
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        die(f"no connector sources beside perfbench/ (expected build.sbt and src/main/scala in {ROOT})", 1)
    digest = source_digest()
    build(digest)
    with open(CLASSPATH) as fh:
        classpath = fh.read().strip()

    tag = f"{a.workload}-seed{a.seed}-trace{a.trace}"
    work = os.path.join(HERE, ".work", tag)
    out = os.path.join(HERE, "out", tag)
    shutil.rmtree(work, ignore_errors=True)
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    os.makedirs(out)
    env = {
        "workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": int(a.trace),
        "nproc": os.cpu_count(), "usable_cpus": len(os.sched_getaffinity(0)),
        "spark_master": f"local[{a.threads}]", "xmx": XMX, "gc_flags": GC_FLAGS,
        "loadavg_1m_start": os.getloadavg()[0],
        "git_commit": git_commit(), "source_sha256": digest,
        "started_utc": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
    }
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if os.environ.get("JAVA_HOME") else "java"
    cmd = [java] + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] + [
        f"-Xmx{XMX}", "-XX:-UsePerfData", *GC_FLAGS, f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
        "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
        "-cp", classpath, "perfbench.Main",
        "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
        "--trace", a.trace, "--threads", str(a.threads), "--work", work, "--out", out,
    ]
    proc = subprocess.Popen(cmd, cwd=ROOT, stdin=subprocess.DEVNULL)
    try:
        code = proc.wait(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        code = None
    finally:
        shutil.rmtree(work, ignore_errors=True)
        env["loadavg_1m_end"] = os.getloadavg()[0]
        env["exit_code"] = code
        with open(os.path.join(out, "env.json"), "w") as fh:
            json.dump(env, fh, indent=1)
            fh.write("\n")
    if code is None:
        die(f"run exceeded {RUN_TIMEOUT_S} s and was stopped", 1)
    sys.exit(code)


if __name__ == "__main__":
    main()
