#!/usr/bin/env python3
"""Lakehouse benchmark: builds the engine from source, runs one workload in
a fresh JVM and prints the result as the last line of standard output.

    python3 lakebench/run.py --workload lakehouse_wire --seed 1 --seconds 20 --trace 0

Workloads: lakehouse_wire, curation_pipeline (see README.md).
`--trace 1` runs the traced variant, prints the per-layer metrics and
writes the spans to <build dir>/traces/. Extra options for the smoke test:
`--scale 0.001` (input size) and `--break-check 1` (corrupts one expected
answer, so the run must report correct=false).

The engine (src/main/scala) and the benchmark program (lakebench/src) are
compiled together with the Scala compiler shipped among the Spark jars,
into $CARGO_TARGET_DIR/lakebench (default .bench_build/lakebench), keyed by
a hash of the sources; later runs reuse the build. Every run works in its
own directory under that build dir and deletes it at exit.
"""

import argparse
import fcntl
import glob
import hashlib
import json
import os
import re
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("lakehouse_wire", "curation_pipeline")
SCALA = "2.13.17"
DEADLINE_S = 175  # the whole run, build excluded, must end within this
HEAP = "3g"
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"lakebench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_jars():
    """$SPARK_HOME/jars, else the jar directory the repo's build.sbt names."""
    home = os.environ.get("SPARK_HOME")
    if home and os.path.isdir(os.path.join(home, "jars")):
        return os.path.join(home, "jars")
    sbt = os.path.join(ROOT, "build.sbt")
    if os.path.isfile(sbt):
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open(sbt).read())
        if m and os.path.isdir(m.group(1)):
            return m.group(1)
    fail("Spark jars not found: set SPARK_HOME")


def sources():
    engine = sorted(glob.glob(os.path.join(ROOT, "src", "main", "scala", "**", "*.scala"), recursive=True))
    bench = sorted(glob.glob(os.path.join(HERE, "src", "**", "*.scala"), recursive=True))
    if not engine:
        fail("engine sources (src/main/scala) not found; run from a checkout of the repository")
    if not bench:
        fail("benchmark sources (lakebench/src) not found")
    return engine + bench


def build(build_root, jars):
    """Compile engine + benchmark once per source hash; returns the classes dir."""
    srcs = sources()
    h = hashlib.sha256(SCALA.encode())
    for s in srcs:
        h.update(os.path.relpath(s, ROOT).encode())
        with open(s, "rb") as f:
            h.update(f.read())
    key = h.hexdigest()[:16]
    out = os.path.join(build_root, "classes-" + key)
    os.makedirs(build_root, exist_ok=True)
    with open(os.path.join(build_root, ".lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        if os.path.isfile(os.path.join(out, ".ok")):
            return out
        for old in glob.glob(os.path.join(build_root, "classes-*")):
            shutil.rmtree(old, ignore_errors=True)
        tmp = out + ".tmp"
        os.makedirs(tmp)
        args = os.path.join(build_root, "sources.txt")
        with open(args, "w") as f:
            f.write("\n".join(f'"{s}"' for s in srcs))
        cp = ":".join(os.path.join(jars, f"scala-{m}-{SCALA}.jar") for m in ("compiler", "library", "reflect"))
        t0 = time.time()
        r = subprocess.run(
            ["java", "-XX:-UsePerfData", "-Djava.io.tmpdir=" + build_root, "-Xss8m", "-Xmx2g",
             "-cp", cp, "scala.tools.nsc.Main", "-nowarn",
             "-classpath", os.path.join(jars, "*"), "-d", tmp, "@" + args],
            stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
        if r.returncode != 0:
            shutil.rmtree(tmp, ignore_errors=True)
            sys.stderr.write(r.stdout[-8000:])
            fail("compilation failed")
        os.rename(tmp, out)
        open(os.path.join(out, ".ok"), "w").close()
        print(f"lakebench: built in {time.time() - t0:.1f} s", file=sys.stderr)
        return out


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    ap.add_argument("--scale", default="0.1")
    ap.add_argument("--break-check", default="0", choices=("0", "1"))
    a = ap.parse_args()

    target = os.environ.get("CARGO_TARGET_DIR", ".bench_build")
    build_root = os.path.join(target if os.path.isabs(target) else os.path.join(ROOT, target), "lakebench")
    jars = spark_jars()
    classes = build(build_root, jars)

    launch = time.time()
    work = os.path.join(build_root, "runs", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    trace_out = os.path.join(build_root, "traces", f"{a.workload}-seed{a.seed}.json")
    # -XX:-UsePerfData: no hsperfdata file outside the checkout
    cmd = (["java", "-XX:-UsePerfData", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+UseG1GC", "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC", "-Djava.io.tmpdir=" + os.path.join(work, "tmp")]
           + [x for p in ADD_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")]
           + ["-cp", classes + ":" + os.path.join(jars, "*"), "lakebench.Main",
              "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
              "--trace", a.trace, "--scale", a.scale, "--break-check", a.break_check,
              "--work-dir", work, "--trace-out", trace_out,
              "--launch-ms", str(int(launch * 1000))])
    log_path = os.path.join(build_root, "runs", f"{a.workload}-{a.seed}-{os.getpid()}.log")
    proc = None

    def stop(*_):
        raise SystemExit(3)

    signal.signal(signal.SIGTERM, stop)
    try:
        with open(log_path, "w") as log:
            proc = subprocess.Popen(cmd, cwd=work, stdout=subprocess.PIPE, stderr=log,
                                    text=True, start_new_session=True)
            try:
                stdout, _ = proc.communicate(timeout=DEADLINE_S - (time.time() - launch))
            except subprocess.TimeoutExpired:
                fail(f"run exceeded {DEADLINE_S} s; log: {log_path}")
        lines = [l for l in stdout.splitlines() if l.strip()]
        result = None
        if proc.returncode == 0 and lines:
            try:
                result = json.loads(lines[-1])
            except ValueError:
                result = None
        if result is None or set(result) != {"correct", "attempted", "failed", "metrics"}:
            with open(log_path) as f:
                sys.stderr.write("".join(f.readlines()[-40:]))
            fail(f"benchmark JVM exited with {proc.returncode} and no result")
        with open(log_path) as f:
            sys.stderr.write("".join(l for l in f if l.startswith("[lakebench")))
        for l in lines[:-1]:
            print(l)
        print(json.dumps(result))
        os.remove(log_path)
    finally:
        if proc is not None and proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
