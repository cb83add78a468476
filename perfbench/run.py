#!/usr/bin/env python3
"""Benchmark entry point for graft.

    python3 perfbench/run.py --workload head_terms --seed 1 --seconds 10 --trace 0

Run from the repository root. The first run compiles the engine's sources
together with the benchmark code (perfbench/build.sbt, offline sbt) and
records the runtime classpath in .bench_build/; later runs start the JVM
directly, so compilation is outside every timing. Each run works in its own
directory under .bench_build/ that is deleted at exit, failures included.
The last line of standard output is the result JSON; everything else goes to
standard error. With --trace 1 the span dump is left in .bench_build/spans/.
"""

import argparse
import hashlib
import os
import shutil
import signal
import subprocess
import sys
import tempfile

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
WORKLOADS = ("head_terms", "tail_terms")
RUN_TIMEOUT_S = 170
JVM_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[run.py] {msg}", file=sys.stderr, flush=True)


def sources_digest(root):
    """Digest of everything the build reads, so a changed tree rebuilds."""
    h = hashlib.sha256()
    trees = [os.path.join(root, "src", "main"), os.path.join(BENCH_DIR, "src")]
    files = [os.path.join(BENCH_DIR, "build.sbt"),
             os.path.join(BENCH_DIR, "project", "build.properties")]
    for tree in trees:
        for d, dirs, names in os.walk(tree):
            dirs.sort()
            files += [os.path.join(d, n) for n in sorted(names)]
    for f in files:
        h.update(os.path.relpath(f, root).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build(root, state):
    """Compile with sbt once per source tree; returns the runtime classpath."""
    stamp = os.path.join(state, "classpath.stamp")
    cp_file = os.path.join(state, "classpath.txt")
    digest = sources_digest(root)
    if os.path.exists(stamp) and os.path.exists(cp_file):
        with open(stamp) as fh:
            if fh.read().strip() == digest:
                with open(cp_file) as cf:
                    return cf.read().strip()
    env = dict(os.environ)
    env["COURSIER_MODE"] = "offline"
    if "SBT_OPTS" not in env:
        repos = os.path.expanduser(os.path.join("~", ".sbt", "repositories"))
        env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true -Dsbt.repository.config=" + repos
                           + " -Dsbt.offline=true -Xmx4g")
    log("compiling engine + benchmark (sbt, offline)")
    proc = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
         "writeClasspath"],
        cwd=BENCH_DIR, env=env, stdout=sys.stderr, stderr=sys.stderr, timeout=800)
    if proc.returncode != 0:
        raise SystemExit(f"build failed (sbt exit {proc.returncode})")
    with open(os.path.join(BENCH_DIR, "target", "classpath.txt")) as fh:
        cp = fh.read().strip()
    with open(cp_file, "w") as fh:
        fh.write(cp)
    with open(stamp, "w") as fh:
        fh.write(digest)
    return cp


def cores():
    try:
        return max(1, len(os.sched_getaffinity(0)))
    except AttributeError:
        return max(1, os.cpu_count() or 1)


def heap_gb():
    """A quarter of physical memory, clamped to 2..6 GiB."""
    try:
        with open("/proc/meminfo") as fh:
            for line in fh:
                if line.startswith("MemTotal:"):
                    return min(6, max(2, int(line.split()[1]) // (4 * 1024 * 1024)))
    except OSError:
        pass
    return 2


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, "src", "main", "scala", "graft")):
        log("no engine sources under src/main/scala/graft: run from the repository root")
        return 2
    state = os.path.join(root, ".bench_build")
    os.makedirs(state, exist_ok=True)
    cp = build(root, state)

    run_dir = tempfile.mkdtemp(prefix="run-", dir=state)
    out = os.path.join(run_dir, "result.json")
    spans = os.path.join(state, "spans", f"{args.workload}-seed{args.seed}.jsonl")
    n = cores()
    os.makedirs(os.path.join(run_dir, "tmp"))
    heap = f"{heap_gb()}g"
    # a fixed heap size: a heap that grows during the run adds collections
    # to whichever timed calls happen to run while it does
    cmd = (["java", f"-Xms{heap}", f"-Xmx{heap}", "-XX:+UseG1GC",
            f"-Djava.io.tmpdir={run_dir}/tmp", "-Dspark.ui.enabled=false"]
           + [x for p in JVM_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", cp, "graftbench.Main",
              "--workload", args.workload, "--seed", str(args.seed),
              "--seconds", str(args.seconds), "--trace", str(args.trace),
              "--cores", str(n), "--run-dir", run_dir, "--out", out, "--spans", spans])
    proc = None

    def stop(signum, _frame):
        raise SystemExit(128 + signum)

    signal.signal(signal.SIGTERM, stop)
    try:
        env = dict(os.environ, SPARK_LOCAL_IP="127.0.0.1", SPARK_LOCAL_HOSTNAME="localhost")
        proc = subprocess.Popen(cmd, cwd=run_dir, env=env, stdout=sys.stderr, stderr=sys.stderr,
                                start_new_session=True)
        code = proc.wait(timeout=RUN_TIMEOUT_S)
        if code != 0 or not os.path.exists(out):
            log(f"benchmark JVM failed (exit {code})")
            return 1
        with open(out) as fh:
            result = fh.read().strip()
        print(result, flush=True)
        return 0
    except subprocess.TimeoutExpired:
        log(f"benchmark JVM exceeded {RUN_TIMEOUT_S} s")
        return 1
    finally:
        if proc is not None and proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
        shutil.rmtree(run_dir, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
