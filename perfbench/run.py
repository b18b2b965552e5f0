#!/usr/bin/env python3
"""Run one benchmark workload against the library in the current checkout.

Usage (from the repository root):
    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

The first run in a checkout builds the library and the harness with sbt
(perfbench/build.sbt); later runs reuse the build while no source file
changed. The harness then runs in one JVM and its result object is printed
as the last line of stdout. Everything the run writes stays under
.bench_build/ in the checkout; trace reports land in .bench_build/reports/.
Extra arguments (--small, --corrupt, --generate DIR) are passed to the
harness, see perfbench/src/perfbench/Main.scala.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys

BUILD_TIMEOUT_S = 850
RUN_TIMEOUT_S = 170
HEAP = "3g"
# A small fixed young generation makes every pass collect several times, so
# the heap in use after a collection (heap_peak_mb) samples the pass's live
# data densely. With G1 sizing it alone, some passes never collect.
YOUNG = "96m"

# Spark on JDK 17 needs these when started outside spark-submit.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]

BUILD_INPUTS = ["build.sbt", "project/build.properties", "src/main",
                "perfbench/build.sbt", "perfbench/project/build.properties",
                "perfbench/src"]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_stamp(root):
    h = hashlib.sha256()
    for rel in BUILD_INPUTS:
        path = os.path.join(root, rel)
        files = []
        if os.path.isfile(path):
            files = [path]
        for base, dirs, names in os.walk(path):
            dirs.sort()
            files += [os.path.join(base, n) for n in sorted(names)]
        for f in files:
            h.update(os.path.relpath(f, root).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build(root, state):
    """Compile library + harness unless the stamped build is current."""
    stamp = source_stamp(root)
    stamp_file = os.path.join(state, "build.stamp")
    cp_file = os.path.join(state, "classpath.txt")
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as fh:
            if fh.read() == stamp:
                with open(cp_file) as fh:
                    return fh.read().strip()
    log = os.path.join(state, "build.log")
    with open(log, "w") as fh:
        try:
            rc = subprocess.run(
                ["sbt", "--batch", "-Dsbt.log.noformat=true", "writeClasspath"],
                cwd=os.path.join(root, "perfbench"), stdout=fh,
                stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL,
                timeout=BUILD_TIMEOUT_S).returncode
        except subprocess.TimeoutExpired:
            fail(f"build timed out, see {log}")
    if rc != 0:
        with open(log) as fh:
            sys.stderr.write(fh.read()[-4000:])
        fail(f"build failed, see {log}")
    shutil.copy(os.path.join(root, "perfbench", "target", "classpath.txt"), cp_file)
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    with open(cp_file) as fh:
        return fh.read().strip()


def java_cmd(classpath, tmp, main_class, args):
    """The JVM command line for one harness entry point."""
    return (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-Xmn{YOUNG}", "-XX:-UsePerfData",
             f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false"]
            + [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
            + ["-cp", classpath, main_class] + args)


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", choices=["0", "1"], default="0")
    args, extra = ap.parse_known_args()

    root = os.getcwd()
    for need in ("build.sbt", "src/main/scala", "perfbench/build.sbt"):
        if not os.path.exists(os.path.join(root, need)):
            fail(f"{need} not found: run from the root of a repository checkout")
    state = os.path.join(root, ".bench_build")
    os.makedirs(state, exist_ok=True)
    classpath = build(root, state)

    tmp = os.path.join(state, "tmp", str(os.getpid()))
    work = os.path.join(state, "work", str(os.getpid()))
    os.makedirs(tmp, exist_ok=True)
    cmd = java_cmd(classpath, tmp, "perfbench.Main",
                   ["--workload", args.workload, "--seed", str(args.seed),
                    "--seconds", str(args.seconds), "--trace", args.trace,
                    "--work", work,
                    "--report", os.path.join(state, "reports"),
                    "--data", os.path.join(root, "perfbench", "data", "sf0.001")]
                   + extra)
    # a terminated run still stops its JVM and removes its files
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stdin=subprocess.DEVNULL,
                            text=True)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        fail(f"run exceeded {RUN_TIMEOUT_S} s")
    finally:
        if proc.poll() is None:
            proc.kill()
            proc.wait()
        shutil.rmtree(tmp, ignore_errors=True)
        shutil.rmtree(work, ignore_errors=True)
    lines = [l for l in out.splitlines() if l.strip()]
    for line in lines[:-1]:
        print(line, file=sys.stderr)
    if proc.returncode != 0 or not lines:
        fail(f"harness exited with code {proc.returncode}")
    last = lines[-1]
    if "--generate" not in extra:
        json.loads(last)  # the result must be one JSON object
    print(last)


if __name__ == "__main__":
    main()
