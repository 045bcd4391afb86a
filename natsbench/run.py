#!/usr/bin/env python3
"""Run one workload of the nats_scan benchmark.

    python3 natsbench/run.py --workload store_query --seed 1 --seconds 15 --trace 0

Run from the root of a checkout. The first call builds the program and the
benchmark from source with sbt (offline; about a minute); later calls reuse
the build while the sources are unchanged. The JVM writes its data under
`.natsbench/` in the checkout, and the directory is removed when the run
ends. The last line of standard output is the JSON result; the exit code is
0 only when every check passed.

Extra options: `--size tiny` (the smoke size), `--keep-spans FILE` (write
the traced run's spans as JSON).
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
BUILD_TIMEOUT_S = 840
JVM_TIMEOUT_S = 170
JDK_OPENS = ["java.base/" + p for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar")]

child = None  # the process running now (sbt or the JVM), in its own group
cleanup = []  # directories to remove on any exit


def fail(msg, code=2):
    try:
        print(f"natsbench: {msg}", file=sys.stderr)
    except OSError:  # the reader of stderr is gone; still stop the child
        pass
    finish(code)


def finish(code):
    if child is not None and child.poll() is None:
        try:
            os.killpg(child.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        child.wait()
    for d in cleanup:
        shutil.rmtree(d, ignore_errors=True)
    try:
        os.rmdir(os.path.join(ROOT, ".natsbench"))
    except OSError:
        pass
    sys.exit(code)


def run_child(cmd, timeout, **kw):
    """run `cmd` in its own process group; returns (exit code, stdout)"""
    global child
    child = subprocess.Popen(cmd, start_new_session=True, text=True, **kw)
    try:
        out, _ = child.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        fail(f"{cmd[0]} exceeded its {timeout}s limit")
    return child.returncode, out


def fingerprint():
    """hash of every file the build reads: the program's and the benchmark's"""
    files = [os.path.join(ROOT, "build.sbt"),
             os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        for d, _, names in os.walk(r):
            files.extend(os.path.join(d, n) for n in names)
    h = hashlib.sha256()
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    """compile with sbt unless the classpath file matches the sources"""
    cp_file = os.path.join(HERE, "target", "classpath.txt")
    stamp = os.path.join(HERE, "target", "build.stamp")
    fp = fingerprint()
    if os.path.exists(cp_file) and os.path.exists(stamp):
        with open(stamp) as fh:
            if fh.read().strip() == fp:
                with open(cp_file) as c:
                    return c.read().strip()
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = env.get("SBT_OPTS", "")
    if "-Dsbt.offline=true" not in opts:
        env["SBT_OPTS"] = (opts + " -Dsbt.offline=true").strip()
    code, _ = run_child(["sbt", "--batch", "-Dsbt.log.noformat=true", "writeClasspath"],
                        BUILD_TIMEOUT_S, cwd=HERE, env=env, stdout=sys.stderr,
                        stderr=sys.stderr)
    if code != 0 or not os.path.exists(cp_file):
        fail("build failed")
    with open(stamp, "w") as fh:
        fh.write(fp)
    with open(cp_file) as c:
        return c.read().strip()


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", choices=["0", "1"], required=True)
    ap.add_argument("--size", choices=["full", "tiny"], default="full")
    ap.add_argument("--keep-spans", default=None)
    a = ap.parse_args()
    for s in (signal.SIGTERM, signal.SIGINT):
        signal.signal(s, lambda *_: fail("interrupted", 3))

    proto = os.path.join(ROOT, "proto", "device_event.proto")
    for need in (os.path.join(ROOT, "build.sbt"),
                 os.path.join(ROOT, "src", "main", "scala"), proto):
        if not os.path.exists(need):
            fail(f"not a checkout of the program: {os.path.relpath(need, ROOT)} is missing")
    if shutil.which("sbt") is None or shutil.which("java") is None:
        fail("sbt and java must be on PATH")
    cp = build()

    work = os.path.join(ROOT, ".natsbench", f"run-{os.getpid()}")
    cleanup.append(work)
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    cmd = (["java", "-Xmx3g", "-XX:ReservedCodeCacheSize=512m",
            "-XX:-UsePerfData", f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-Duser.timezone=UTC",
            f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}"]
           + [x for p in JDK_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", cp, "natsbench.Main",
              "--workload", a.workload, "--seed", str(a.seed),
              "--seconds", str(a.seconds), "--trace", a.trace,
              "--work", work, "--proto", proto, "--size", a.size])
    if a.keep_spans:
        cmd += ["--spans", os.path.abspath(a.keep_spans)]
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
    code, out = run_child(cmd, JVM_TIMEOUT_S, cwd=work, env=env,
                          stdout=subprocess.PIPE, stderr=sys.stderr)
    lines = out.splitlines()
    result = [l for l in lines if l.startswith("{")]
    for l in lines:
        if not l.startswith("{"):
            print(l)
    if not result:
        fail(f"run failed (exit {code})")
    # a run whose checks failed still reports, with "correct": false
    print(result[-1], flush=True)
    finish(0 if code == 0 else 1)


if __name__ == "__main__":
    main()
