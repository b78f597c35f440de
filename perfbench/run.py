#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload build|mine --seed N \
        --seconds S --trace 0|1

Run from the root of a checkout. The first call compiles the program and
the harness with sbt (perfbench/build.sbt depends on the root build); later
calls reuse the build while the sources are unchanged. Each call then runs
one JVM (perfbench.Main) and prints its result as the last line of stdout:

    {"correct": true, "attempted": N, "failed": 0, "metrics": {...}}

Exit code 0 only when every operation passed its correctness gate. Logs go
to stderr. Everything the run writes stays under perfbench/ (target/ for the
build, .work/ for scratch data, .out/ for span dumps).
"""

import argparse
import hashlib
import os
import shutil
import signal
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
LAUNCH = os.path.join(BENCH, "target", "launch.txt")
STAMP = os.path.join(BENCH, "target", "launch.stamp")

BUILD_TIMEOUT_S = 840
RUN_LIMIT_S = 175  # the whole call, build excluded
JVM_FLAGS = ["-Xms3g", "-Xmx3g", "-XX:+UseParallelGC"]
WORKLOADS = ("build", "mine")


def log(msg):
    print(f"[run.py] {msg}", file=sys.stderr, flush=True)


def source_files():
    """Every input of the build: the program's sources and build files and
    the harness's own."""
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src", "main")):
        for d, _, files in os.walk(base):
            for f in files:
                yield os.path.join(d, f)
    for f in ("build.sbt", os.path.join("project", "build.properties"),
              os.path.join("project", "plugins.sbt")):
        for base in (ROOT, BENCH):
            p = os.path.join(base, f)
            if os.path.isfile(p):
                yield p


def stamp():
    h = hashlib.sha256()
    for p in sorted(source_files()):
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def run_bounded(cmd, timeout, **kw):
    """Run `cmd` in its own process group; on timeout kill the whole group
    and wait for it. Returns the exit code, or None on timeout."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        return p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        return None
    except BaseException:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise


def build():
    want = stamp()
    if os.path.isfile(LAUNCH) and os.path.isfile(STAMP):
        with open(STAMP) as fh:
            if fh.read().strip() == want:
                return
    if shutil.which("sbt") is None:
        sys.exit("sbt not found on PATH")
    log("building (sbt perfbench/benchLaunch)")
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.offline=true -Xmx2g")
    t0 = time.time()
    rc = run_bounded(["sbt", "-batch", "-Dsbt.log.noformat=true", "perfbench/benchLaunch"],
                     BUILD_TIMEOUT_S, cwd=BENCH, env=env, stdin=subprocess.DEVNULL,
                     stdout=sys.stderr, stderr=sys.stderr)
    if rc != 0 or not os.path.isfile(LAUNCH):
        sys.exit(f"build failed (exit {rc})")
    with open(STAMP, "w") as fh:
        fh.write(want + "\n")
    log(f"built in {time.time() - t0:.1f} s")


def main():
    # a terminated run still stops its children (see run_bounded)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    a = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")) or \
            not os.path.isfile(os.path.join(ROOT, "build.sbt")):
        sys.exit("no program sources next to perfbench/: run from a full checkout")
    build()

    with open(LAUNCH) as fh:
        lines = fh.read().splitlines()
    classpath, jvm_opts = lines[0], [l for l in lines[1:] if l]

    work = os.path.join(BENCH, ".work", f"{a.workload}-{os.getpid()}")
    out_dir = os.path.join(BENCH, ".out")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    os.makedirs(out_dir, exist_ok=True)
    result = os.path.join(work, "result.json")
    spans = os.path.join(out_dir, f"spans-{a.workload}-seed{a.seed}.json")
    cmd = (["java"] + JVM_FLAGS + [f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}"] + jvm_opts +
           ["-cp", classpath, "perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", a.trace, "--workdir", work, "--result", result, "--spans", spans])
    # Spark prefers these variables over spark.local.dir; the harness keeps
    # its scratch inside the checkout
    env = {k: v for k, v in os.environ.items()
           if k not in ("SPARK_LOCAL_DIRS", "SPARK_EXECUTOR_DIRS")}
    try:
        rc = run_bounded(cmd, RUN_LIMIT_S, cwd=work, env=env, stdin=subprocess.DEVNULL,
                         stdout=sys.stderr, stderr=sys.stderr)
        line = None
        if os.path.isfile(result):
            with open(result) as fh:
                line = fh.read().strip()
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if rc is None:
        sys.exit(f"run exceeded {RUN_LIMIT_S} s")
    if not line:
        sys.exit(f"run produced no result (exit {rc})")
    print(line, flush=True)
    sys.exit(0 if rc == 0 else 1)


if __name__ == "__main__":
    main()
