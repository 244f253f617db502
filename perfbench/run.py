#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload <html_crawl|daily_lake> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. On first use (or when any source changed) it
builds the program and the benchmark code from source with sbt, offline, into
`target/` directories and `.bench_build/`; then it runs the workload in one
JVM and relays its output. The last line of standard output is the result
JSON. Scratch data lives in `.bench_build/work/` and is removed at exit; a
traced run leaves its spans in `.bench_build/traces/`.
"""
import argparse
import hashlib
import os
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
WORKLOADS = ("html_crawl", "daily_lake")
RUN_TIMEOUT_S = 175
CHILD = None  # the sbt or java process currently running


def stop_child(signum, _frame):
    if CHILD is not None and CHILD.poll() is None:
        CHILD.kill()
        CHILD.wait()
    sys.exit(128 + signum)


def run_child(cmd, **kw):
    global CHILD
    CHILD = subprocess.Popen(cmd, **kw)
    return CHILD


def fail(msg):
    print(f"run.py: {msg}", file=sys.stderr)
    sys.exit(2)


def source_digest():
    """Digest of everything the build reads: program and benchmark sources and build files."""
    h = hashlib.sha256()
    inputs = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
              os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
              os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for top in inputs:
        paths = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(top) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build():
    if not os.path.isdir(os.path.join(ROOT, "src", "main")):
        fail("no program sources next to the benchmark (expected src/main)")
    stamp = os.path.join(BUILD, "stamp")
    digest = source_digest()
    if os.path.exists(os.path.join(BUILD, "classpath.txt")) and os.path.exists(stamp):
        with open(stamp) as f:
            if f.read() == digest:
                return
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # sbt's socket directory and the JVM's perf-data file stay inside the checkout
    opts = ["-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-Xmx2g",
            f"-Djava.io.tmpdir={tmp}", "-XX:-UsePerfData"]
    repos = os.path.expanduser(os.path.join("~", ".sbt", "repositories"))
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    code = run_child(["sbt", "-batch", "-Dsbt.log.noformat=true", "writeRuntime"],
                     cwd=HERE, env=env, stdout=sys.stderr, stderr=sys.stderr).wait()
    if code != 0:
        fail(f"build failed (sbt exit {code})")
    with open(stamp, "w") as f:
        f.write(digest)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    a = ap.parse_args()
    signal.signal(signal.SIGTERM, stop_child)
    signal.signal(signal.SIGINT, stop_child)

    build()
    with open(os.path.join(BUILD, "classpath.txt")) as f:
        cp = f.read().strip()
    with open(os.path.join(BUILD, "jvm_options.txt")) as f:
        jvm = [l for l in f.read().split("\n") if l and not l.startswith("-Xmx")]
    work = os.path.join(BUILD, "work", f"{a.workload}-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    spans = os.path.join(BUILD, "traces", f"{a.workload}-seed{a.seed}.jsonl")
    cmd = ["java", "-Xms2g", "-Xmx2g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
           f"-Dspark.local.dir={tmp}", f"-Dspark.hadoop.hadoop.tmp.dir={tmp}",
           f"-Dspark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
           *jvm, "-cp", cp, "perfbench.Main",
           "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
           "--trace", a.trace, "--work", work, "--spans", spans]
    proc = run_child(cmd, cwd=ROOT)
    try:
        code = proc.wait(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        code = 3
        print(f"run.py: {a.workload} exceeded {RUN_TIMEOUT_S} s", file=sys.stderr)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    sys.exit(code)


if __name__ == "__main__":
    main()
