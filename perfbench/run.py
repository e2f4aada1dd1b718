#!/usr/bin/env python3
"""Extraction benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. Builds the engine and the benchmark from
source with sbt on first use (again only when a source file changes), then
runs one workload in one JVM on local[nproc]. The JVM prints its host
record, gate result and metrics; its last stdout line is the result object.
Everything a run leaves behind goes under `.bench_build/` in the current
directory; the per-run work directory is removed when the run ends. On
SIGTERM, SIGINT or SIGHUP the build or the JVM is stopped before this
script exits.
"""
import argparse
import hashlib
import os
import shutil
import signal
import subprocess
import sys

WORKLOADS = ("batch_checkpointed", "stream_html", "reingest_delta")
BUILD_DIR = ".bench_build"
BUILD_TIMEOUT_S = 700
RUN_TIMEOUT_S = 170
XMX = "3g"

# Spark on JDK 17 needs these outside spark-submit; the same list as the
# engine's build.sbt (Spark's JavaModuleOptions).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]

# Inputs of the build: the engine's sources and build, and the benchmark's.
SOURCES = ("build.sbt", "project/build.properties", "src/main",
           "perfbench/build.sbt", "perfbench/project/build.properties",
           "perfbench/src/main")


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_digest():
    h = hashlib.sha256()
    for top in SOURCES:
        paths = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(top) for f in fs)
        for p in paths:
            h.update(p.encode())
            with open(p, "rb") as f:
                h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()[:16]


def build(digest):
    """Compile with sbt unless this exact source tree was built already;
    returns the runtime classpath."""
    stamp = os.path.join(BUILD_DIR, "classpath.txt")
    if os.path.exists(stamp):
        with open(stamp) as f:
            built, cp = f.read().split("\n", 1)
        if built == digest:
            return cp.strip()
    log("building engine and benchmark with sbt")
    env = dict(os.environ, COURSIER_MODE="offline")
    proc = subprocess.Popen(
        ["sbt", "-batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"],
        cwd="perfbench", env=env, stdin=subprocess.DEVNULL, start_new_session=True,
        stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    try:
        out, _ = proc.communicate(timeout=BUILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        raise SystemExit("[perfbench] build timed out")
    finally:
        stop(proc)
    sys.stderr.write(out)
    cps = [l for l in out.splitlines() if ".jar" in l and not l.startswith("[")]
    if proc.returncode != 0 or not cps:
        raise SystemExit("[perfbench] build failed")
    cp = cps[-1].strip()
    os.makedirs(BUILD_DIR, exist_ok=True)
    with open(stamp, "w") as f:
        f.write(digest + "\n" + cp)
    return cp


def stop(proc):
    """Kill a child's whole process group, whatever is left of it, and
    wait for the child."""
    try:
        os.killpg(proc.pid, signal.SIGKILL)
    except (ProcessLookupError, PermissionError):
        pass
    proc.wait()


def commit():
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], capture_output=True, text=True,
                           timeout=10)
        return r.stdout.strip() if r.returncode == 0 else "none"
    except (OSError, subprocess.TimeoutExpired):
        return "none"


def on_signal(signum, _frame):
    # unwinds through the `finally` blocks that stop the children
    raise SystemExit(128 + signum)


def main():
    for sig in (signal.SIGTERM, signal.SIGINT, signal.SIGHUP):
        signal.signal(sig, on_signal)
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    a = ap.parse_args()
    if a.seconds < 1:
        raise SystemExit("[perfbench] --seconds must be at least 1")

    missing = [p for p in SOURCES if not os.path.exists(p)]
    if missing:
        raise SystemExit("[perfbench] run from the repository root; missing: " + ", ".join(missing))
    digest = source_digest()
    cp = build(digest)

    work = os.path.join(BUILD_DIR, f"work-{os.getpid()}")
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if "JAVA_HOME" in os.environ else "java"
    cmd = [java, f"-Xmx{XMX}", "-XX:+UseG1GC",
           "-Dspark.ui.enabled=false", f"-Djava.io.tmpdir={os.path.abspath(work)}/tmp"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", a.trace, "--work", work, "--source", digest, "--commit", commit()]
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    proc = subprocess.Popen(cmd, stdin=subprocess.DEVNULL, start_new_session=True)
    try:
        code = proc.wait(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        log(f"run exceeded {RUN_TIMEOUT_S} s and was stopped")
        code = 124
    finally:
        stop(proc)
        shutil.rmtree(work, ignore_errors=True)
    sys.exit(code)


if __name__ == "__main__":
    main()
