#!/usr/bin/env python3
"""Benchmark of the extract -> segment -> commit job (see perfbench/README.md).

Run from the root of the repository:

    python3 perfbench/run.py --workload mixed --seed 42 --seconds 20 --trace 0

Compiles the library and the benchmark from source with scalac on first use
(see build()), then launches one JVM per run. The last line of stdout is one
JSON object: correct, attempted, failed, metrics. With --trace 0 the metrics
are the end-to-end ones, with --trace 1 the per-layer ones. Exits non-zero,
without a result line, when the repository sources are missing or the build
fails, and non-zero with a result line when a job fails its correctness gate.
"""
import argparse
import json
import os
import re
import shutil
import signal
import subprocess
import sys

WORKLOADS = ("mixed", "passthrough_long", "incremental")
# The JVM's limit counts from its launch: a run without a build ends within
# 180 s, the first run of a checkout (build included) within 900 s.
RUN_TIMEOUT_S = 165
BUILD_TIMEOUT_S = 600
HERE = os.path.dirname(os.path.abspath(__file__))

# Spark on JDK 17 needs these outside spark-submit (as in the root build.sbt).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def scala_sources(*dirs):
    return sorted(os.path.join(d, f) for top in dirs for d, _, fs in os.walk(top)
                  for f in fs if f.endswith(".scala"))


def jars_dir(root):
    """The library's jar directory: the root build's unmanagedBase, else $SPARK_HOME/jars."""
    with open(os.path.join(root, "build.sbt")) as f:
        m = re.search(r'^\s*unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read(), re.M)
    d = m.group(1) if m else os.path.join(os.environ.get("SPARK_HOME", ""), "jars")
    if not os.path.isdir(d):
        fail(f"library jars not found (looked in {d!r})")
    return d


def build(root, out_dir):
    """Compiles the library and the benchmark with scalac, unless the classes
    are newer than every source. Returns the runtime classpath.

    The root build takes its dependencies from one jar directory (its
    unmanagedBase), which also ships the Scala compiler, so one scalac call
    over both source trees is the whole build: no resolution, no network, and
    nothing written outside out_dir."""
    jars = jars_dir(root)
    classes = os.path.join(out_dir, "classes")
    runtime_cp = os.pathsep.join(
        [classes, os.path.join(root, "src", "main", "resources"), os.path.join(jars, "*")])
    sources = scala_sources(os.path.join(root, "src", "main", "scala"),
                            os.path.join(HERE, "src", "main", "scala"))
    # the stamp lists the sources compiled; it is current when the list is the
    # same and no source is newer than it
    stamp = os.path.join(out_dir, "classes.stamp")
    listing = "\n".join(sources) + "\n"
    if os.path.isfile(stamp) and os.path.getmtime(stamp) > max(map(os.path.getmtime, sources)):
        with open(stamp) as f:
            if f.read() == listing:
                return runtime_cp
    lib = sorted(os.path.join(jars, f) for f in os.listdir(jars) if f.endswith(".jar"))
    compiler = [j for j in lib if re.match(r"scala-(compiler|library|reflect)-[0-9.]+\.jar$",
                                           os.path.basename(j))]
    if len(compiler) != 3:
        fail(f"scala-compiler, -library and -reflect jars not found in {jars}")
    staging = classes + ".new"
    shutil.rmtree(staging, ignore_errors=True)
    os.makedirs(staging)
    args = os.path.join(out_dir, "scalac.args")
    with open(args, "w") as f:
        f.write("\n".join(["-nowarn", "-d", staging, "-classpath", os.pathsep.join(lib)] + sources))
    cmd = ["java", "-Xss8m", "-Xmx1500m", "-XX:+UseParallelGC", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={out_dir}", "-cp", os.pathsep.join(compiler),
           "scala.tools.nsc.Main", "@" + args]
    try:
        r = subprocess.run(cmd, cwd=root, stdout=sys.stderr, stderr=sys.stderr,
                           stdin=subprocess.DEVNULL, timeout=BUILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        fail("build timed out")
    if r.returncode != 0:
        fail(f"build failed (scalac exit {r.returncode})")
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(staging, classes)
    with open(stamp, "w") as f:
        f.write(listing)
    return runtime_cp


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    # self-test knobs (perfbench/selftest.py)
    ap.add_argument("--scale", default="full", choices=("full", "tiny"), help=argparse.SUPPRESS)
    ap.add_argument("--corrupt-reference", default=0, type=int, choices=(0, 1),
                    help=argparse.SUPPRESS)
    args = ap.parse_args()

    root = os.getcwd()
    if not (os.path.isfile(os.path.join(root, "build.sbt"))
            and os.path.isdir(os.path.join(root, "src", "main", "scala", "graft"))):
        fail("run from the repository root: build.sbt and src/main/scala/graft are missing")
    if not os.path.isfile(os.path.join(root, "perfbench", "run.py")):
        fail("run from the repository root: perfbench/run.py is not below it")
    out_dir = os.path.join(root, os.environ.get("CARGO_TARGET_DIR") or ".bench_build", "perfbench")
    classpath = build(root, out_dir)
    work = os.path.join(out_dir, f"work-{os.getpid()}")
    records = os.path.join(out_dir, "records")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    # A fixed, pre-touched heap keeps peak RSS from tracking GC heap sizing.
    # The throughput collector suits a batch job; with adaptive generation
    # sizing its young collections dominated the first passes of every run.
    cmd = ["java", "-Xms3g", "-Xmx3g", "-XX:+AlwaysPreTouch", "-XX:+UseParallelGC",
           "-XX:-UsePerfData", "-Xmn1500m", "-XX:-UseAdaptiveSizePolicy"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += [f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
            f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
            "-cp", classpath, "perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--work", work, "--records", records,
            "--scale", args.scale, "--corrupt-reference", str(args.corrupt_reference)]
    proc = subprocess.Popen(cmd, cwd=root, stdout=subprocess.PIPE, stderr=sys.stderr,
                            stdin=subprocess.DEVNULL, start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        fail(f"run exceeded {RUN_TIMEOUT_S} s")
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
        shutil.rmtree(work, ignore_errors=True)

    result, raw = None, ""
    for line in out.decode("utf-8", "replace").splitlines():
        line = line.strip()
        if line.startswith("{") and '"metrics"' in line:
            try:
                result, raw = json.loads(line), line
            except ValueError:
                pass
    if result is None:
        fail(f"no result line (JVM exit {proc.returncode})")
    print(raw)
    sys.exit(0 if proc.returncode == 0 and result["correct"] else 1)


if __name__ == "__main__":
    main()
