#!/usr/bin/env python3
"""Run one benchmark workload against the program built from this checkout.

    python3 perfbench/run.py --workload build|serve --seed N \
        --seconds S --trace 0|1

Run from the root of a checkout. The first run compiles the program and
the benchmark (sbt, in perfbench/) and records the runtime classpath
under .bench_build/; later runs reuse it while the sources are
unchanged. Each run starts one JVM (perfbench.Main), relays its result
line as the last line of stdout, and exits with the JVM's code: 0 only
when every checked operation was correct. Everything the run writes
stays under .bench_build/ in the checkout; traced runs leave their
spans in .bench_build/traces/.
"""
import argparse
import hashlib
import os
import signal
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
OUT = os.path.join(ROOT, ".bench_build")
CLASSPATH = os.path.join(OUT, "classpath.txt")
STAMP = os.path.join(OUT, "classpath.stamp")
WORKLOADS = ("build", "serve")

BUILD_TIMEOUT_S = 840
RUN_TIMEOUT_S = 170

JVM_FLAGS = [
    "-Xms3g", "-Xmx3g",  # a fixed heap: no resizing noise between runs
    "-XX:+UseParallelGC",
    "-Dspark.ui.enabled=false",
    "-Dspark.sql.session.timeZone=UTC",
] + [f"--add-opens={m}=ALL-UNNAMED" for m in (
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar")]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_files():
    """Every file the build reads: the program's build and sources and
    the benchmark's own."""
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(ROOT, "project"),
             os.path.join(BENCH, "src", "main"), os.path.join(BENCH, "project")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(BENCH, "build.sbt")]
    for r in roots:
        for d, dirs, names in os.walk(r):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
            files += [os.path.join(d, n) for n in sorted(names)
                      if n.endswith((".scala", ".java", ".sbt", ".properties"))]
    return files


def stamp():
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def run_bounded(cmd, cwd, timeout, **kw):
    """Run in its own process group; on timeout kill the whole group and
    wait for it."""
    p = subprocess.Popen(cmd, cwd=cwd, start_new_session=True, **kw)
    try:
        out, _ = p.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.communicate()
        fail(f"{cmd[0]} timed out after {timeout} s")
    return p.returncode, out


def build():
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        fail("run from the root of a checkout of the program (no build.sbt / src/main/scala here)")
    want = stamp()
    if os.path.isfile(CLASSPATH) and os.path.isfile(STAMP):
        with open(STAMP) as fh:
            if fh.read() == want:
                return
    tmp = os.path.join(OUT, "tmp")
    os.makedirs(tmp, exist_ok=True)
    t0 = time.time()
    code, out = run_bounded(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
         "-Dsbt.server.forcestart=false",
         f"-Djava.io.tmpdir={tmp}", f"-Dperfbench.cpfile={CLASSPATH}", "writeClasspath"],
        BENCH, BUILD_TIMEOUT_S, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        stdin=subprocess.DEVNULL)
    if code != 0 or not os.path.isfile(CLASSPATH):
        sys.stderr.write(out.decode(errors="replace")[-4000:])
        fail(f"build failed (exit {code})")
    with open(STAMP, "w") as fh:
        fh.write(want)
    print(f"perfbench: built in {time.time() - t0:.0f} s", file=sys.stderr)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    a = ap.parse_args()
    if a.seconds < 1:
        fail("--seconds must be at least 1")
    build()
    with open(CLASSPATH) as fh:
        cp = fh.read().strip()
    run_dir = os.path.join(OUT, f"run-{os.getpid()}")
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    trace_out = os.path.join(OUT, "traces", f"{a.workload}-seed{a.seed}.jsonl")
    cmd = ["java"] + JVM_FLAGS + [f"-Djava.io.tmpdir={tmp}", "-cp", cp, "perfbench.Main",
                                  "--workload", a.workload, "--seed", str(a.seed),
                                  "--seconds", str(a.seconds), "--trace", a.trace,
                                  "--work", os.path.join(run_dir, "work"),
                                  "--trace-out", trace_out]
    try:
        code, out = run_bounded(cmd, ROOT, RUN_TIMEOUT_S, stdout=subprocess.PIPE,
                                stdin=subprocess.DEVNULL)
    finally:
        subprocess.run(["rm", "-rf", run_dir], check=False)
    lines = out.decode(errors="replace").strip().splitlines()
    if not lines or not lines[-1].startswith("{"):
        fail(f"no result line (exit {code})")
    print("\n".join(lines))
    sys.exit(code)


if __name__ == "__main__":
    main()
