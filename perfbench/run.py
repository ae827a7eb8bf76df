#!/usr/bin/env python3
"""graft benchmark runner.

    python3 perfbench/run.py --workload <log_ingest|stream_deltas> --seed <n>
                             --seconds <s> --trace <0|1>

Run from the root of a checkout. Builds the engine and the benchmark from
source with sbt (offline) when the sources changed since the last build,
then runs the benchmark JVM (local Spark, one client thread, closed loop).
The last line of stdout is one JSON object: correct, attempted, failed and
metrics (end-to-end metrics with --trace 0, per-layer metrics with
--trace 1). Build logs, per-run records and span files go to .bench_build/.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
BUILD = os.path.join(ROOT, ".bench_build")
SCALA = os.path.join(HERE, "scala")
WORKLOADS = ("log_ingest", "stream_deltas")
BUILD_TIMEOUT_S = 600
RUN_TIMEOUT_S = 170
HEAP = "2g"
# JDK 17 module opens Spark needs when not started by spark-submit
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_digest():
    """Content hash of everything the build reads."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(ROOT, "project"),
             os.path.join(SCALA, "src", "main"), os.path.join(SCALA, "project")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(SCALA, "build.sbt")]
    for r in roots:
        for d, dirs, names in os.walk(r):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
            files += [os.path.join(d, n) for n in names
                      if n.endswith((".scala", ".java", ".sbt", ".properties"))]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    """Compile engine + benchmark; return the runtime classpath."""
    stamp = os.path.join(BUILD, "build.stamp")
    cp_file = os.path.join(BUILD, "perfbench-target", "classpath.txt")
    digest = source_digest()
    if os.path.exists(cp_file) and os.path.exists(stamp) and open(stamp).read() == digest:
        return open(cp_file).read().strip()
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline",
               SBT_OPTS="-Dsbt.override.build.repos=true -Dsbt.offline=true -Xmx2g")
    log("building engine and benchmark with sbt (offline)")
    t0 = time.time()
    with open(os.path.join(BUILD, "build.log"), "w") as out:
        rc = run_child(["sbt", "--batch", "-Dsbt.log.noformat=true",
                        "compile", "writeClasspath"],
                       cwd=SCALA, env=env, stdout=out, timeout=BUILD_TIMEOUT_S)[0]
    if rc != 0 or not os.path.exists(cp_file):
        log(f"build failed (exit {rc}); see .bench_build/build.log")
        sys.exit(1)
    with open(stamp, "w") as f:
        f.write(digest)
    log(f"built in {time.time() - t0:.0f} s")
    return open(cp_file).read().strip()


def run_child(cmd, timeout, **kw):
    """Run in its own process group; on timeout or interrupt, kill the
    whole group and wait for it."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        out, _ = p.communicate(timeout=timeout)
        return p.returncode, out
    except BaseException:
        try:
            os.killpg(p.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        p.wait()
        raise


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    missing = [p for p in ("build.sbt", os.path.join("src", "main", "scala", "graft"))
               if not os.path.exists(os.path.join(ROOT, p))]
    if missing:
        log(f"not a graft checkout (missing {', '.join(missing)}); run from the repository root")
        sys.exit(2)
    for tool in ("java", "sbt"):
        if shutil.which(tool) is None:
            log(f"{tool} not found on PATH")
            sys.exit(2)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    cp = build()
    work = os.path.join(BUILD, "work", f"{a.workload}-{a.seed}-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = (["java"] + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] +
           [f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+AlwaysPreTouch", f"-Djava.io.tmpdir={tmp}",
            "-Dspark.ui.enabled=false", "-cp", cp, "graftbench.Main",
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--work", work, "--out", os.path.join(BUILD, "results")])
    try:
        rc, out = run_child(cmd, timeout=RUN_TIMEOUT_S, cwd=ROOT,
                            stdout=subprocess.PIPE, text=True)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    lines = [l for l in (out or "").splitlines() if l.strip()]
    for l in lines[:-1]:
        print(l, file=sys.stderr)
    try:
        result = json.loads(lines[-1])
        assert set(result) == {"correct", "attempted", "failed", "metrics"}
    except (IndexError, ValueError, AssertionError):
        log(f"benchmark JVM exited {rc} without a result line")
        sys.exit(1)
    if rc != 0:
        log(f"benchmark JVM exited {rc}")
        sys.exit(1)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
