#!/usr/bin/env python3
"""Benchmark of the extraction job, run from the root of a source checkout.

    python3 perfbench/run.py --workload <fresh_mixed|resume_tail|stream_epochs> \
        --seed <n> --seconds <s> --trace <0|1>

Builds the program and the benchmark from source with sbt (once per source
state; the build is reused while the sources are unchanged), then runs the
benchmark JVM. Everything it writes stays under `.bench_build/` in the
checkout. The last line of stdout is one JSON object with `correct`,
`attempted`, `failed` and `metrics`; the exit code is 0 only when every
operation's output check passed. A traced run (`--trace 1`) also writes
`.bench_build/traces/<workload>-seed<n>.json`.
"""

import argparse
import hashlib
import os
import shutil
import signal
import subprocess
import sys
import threading

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
WORKLOADS = ("fresh_mixed", "resume_tail", "stream_epochs")

# a run other than the first (which builds) must finish within 180 s
RUN_LIMIT_S = 170
BUILD_LIMIT_S = 840
# A fixed, pre-touched heap: without it the resident set follows G1's heap
# sizing, which swings by a third from run to run on the same input.
JVM_MEMORY = ["-Xms3g", "-Xmx3g", "-XX:+AlwaysPreTouch"]

# Spark on JDK 17 outside spark-submit needs these (as in the root build)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_files():
    """Every file the build reads: the root build and sources, and the benchmark's."""
    files = []
    for top in ("build.sbt", "project", "src/main", "perfbench/build.sbt", "perfbench/project", "perfbench/src"):
        p = os.path.join(ROOT, top)
        if os.path.isfile(p):
            files.append(p)
        for d, dirs, names in os.walk(p):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
            files.extend(os.path.join(d, n) for n in sorted(names) if not n.startswith("."))
    return files


def build():
    """Compiles with sbt unless the classpath for these exact sources exists."""
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt")) and os.path.isdir(os.path.join(ROOT, "src", "main"))):
        fail("no program sources here: run from the root of a source checkout (build.sbt, src/main)")
    if shutil.which("sbt") is None or shutil.which("java") is None:
        fail("sbt and java must be on PATH")
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    stamp = h.hexdigest()
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp_file = os.path.join(BUILD, "stamp")
    if os.path.isfile(cp_file) and os.path.isfile(stamp_file) and open(stamp_file).read() == stamp:
        return open(cp_file).read().strip()
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "-Dsbt.offline" not in env.get("SBT_OPTS", ""):
        env["SBT_OPTS"] = (env.get("SBT_OPTS", "") + " -Dsbt.offline=true").strip()
    # the build log goes to stderr: stdout carries only the result
    r = subprocess.run(["sbt", "-batch", "-Dsbt.log.noformat=true", "writeClasspath"],
                       cwd=HERE, env=env, stdout=sys.stderr, stderr=sys.stderr,
                       stdin=subprocess.DEVNULL, timeout=BUILD_LIMIT_S)
    built = os.path.join(HERE, "target", "classpath.txt")
    if r.returncode != 0 or not os.path.isfile(built):
        print("perfbench: build failed", file=sys.stderr)
        sys.exit(1)
    shutil.copyfile(built, cp_file)
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return open(cp_file).read().strip()


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    a = ap.parse_args()
    if a.seconds < 1:
        fail("--seconds must be at least 1")

    classpath = build()

    work = os.path.join(BUILD, "work", f"{a.workload}-{a.seed}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    # no hsperfdata file: the JVM writes nothing outside the checkout
    cmd = ["java", *JVM_MEMORY, "-XX:-UsePerfData", f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", classpath, "perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds), "--trace", a.trace,
            "--work", work,
            "--documents", os.path.join(HERE, "data", "documents.parquet"),
            "--digests", os.path.join(HERE, "digests.tsv"),
            "--trace-out", os.path.join(BUILD, "traces", f"{a.workload}-seed{a.seed}.json")]

    proc = subprocess.Popen(cmd, cwd=work, stdout=subprocess.PIPE, stdin=subprocess.DEVNULL,
                            text=True, start_new_session=True)

    def stop(*_):
        try:
            os.killpg(proc.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass

    signal.signal(signal.SIGTERM, lambda *_: (stop(), sys.exit(1)))
    timer = threading.Timer(RUN_LIMIT_S, stop)
    timer.start()
    try:
        for line in proc.stdout:
            sys.stdout.write(line)
            sys.stdout.flush()
        code = proc.wait()
        if not timer.is_alive():
            print(f"perfbench: run exceeded {RUN_LIMIT_S} s and was stopped", file=sys.stderr)
            code = 1
    finally:
        timer.cancel()
        stop()
        proc.wait()
        shutil.rmtree(work, ignore_errors=True)
    sys.exit(code)


if __name__ == "__main__":
    main()
