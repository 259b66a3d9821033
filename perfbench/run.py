#!/usr/bin/env python3
"""Build the engine from source and run one benchmark workload.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
                             [--corrupt-model]

Run from the root of a checkout. The engine (src/main) and the benchmark
(perfbench/src) are compiled together with the Scala compiler that ships in
Spark's jars; the classes are cached under $CARGO_TARGET_DIR (default
.bench_build) and rebuilt when any source changes. The last line of standard
output is the result JSON. The exit code is 0 only when every correctness
check passed.
"""
import argparse
import glob
import hashlib
import os
import shutil
import subprocess
import sys

WORKLOADS = ("lift_ingest", "corpus_curate")
JVM_TIMEOUT_S = 175
BUILD_TIMEOUT_S = 600
HEAP = "2g"
# The lift's CPU time per tick depends on how far C2 has got with the code
# Spark generates for each tick, and other load on the machine holds C2
# back. With C1 alone a tick takes as long, and its CPU time does not rise
# under that load. Curation waves run 20-40 % slower without C2 (see
# README.md).
JIT = {"lift_ingest": ["-XX:TieredStopAtLevel=1"], "corpus_curate": []}
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


def spark_jars():
    homes = [os.environ.get("SPARK_HOME")] + [
        os.path.dirname(os.path.dirname(os.path.realpath(os.path.join(d, "spark-submit"))))
        for d in os.environ.get("PATH", "").split(os.pathsep)
        if os.path.isfile(os.path.join(d, "spark-submit"))]
    for home in homes:
        if home and glob.glob(os.path.join(home, "jars", "scala-compiler-*.jar")):
            return os.path.join(home, "jars")
    fail("no Spark installation with a Scala compiler (set SPARK_HOME)")


def sources(root):
    found = []
    for base in ("src/main/scala", "perfbench/src"):
        for d, _, files in os.walk(os.path.join(root, base)):
            found += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(found)


def build(root, out, jars):
    srcs = sources(root)
    if not any(s.startswith(os.path.join(root, "src/main/scala")) for s in srcs):
        fail("no engine sources under src/main/scala; run from the root of a checkout")
    h = hashlib.sha256()
    for s in srcs:
        h.update(s.encode())
        with open(s, "rb") as f:
            h.update(f.read())
    stamp = os.path.join(out, "classes.stamp")
    classes = os.path.join(out, "classes")
    if os.path.exists(stamp) and open(stamp).read() == h.hexdigest():
        return classes
    tmp = classes + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    cp = os.path.join(jars, "*")
    cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main", "-nowarn",
           "-d", tmp, "-classpath", cp] + srcs
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr, timeout=BUILD_TIMEOUT_S)
    if r.returncode != 0:
        fail("compilation failed")
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(tmp, classes)
    with open(stamp, "w") as f:
        f.write(h.hexdigest())
    return classes


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    ap.add_argument("--corrupt-model", action="store_true")
    a = ap.parse_args()

    root = os.getcwd()
    out = os.path.join(root, os.environ.get("CARGO_TARGET_DIR", ".bench_build"), "perfbench")
    jars = spark_jars()
    classes = build(root, out, jars)

    work = os.path.join(out, f"work-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    cp = os.pathsep.join([classes, os.path.join(root, "src/main/resources"), os.path.join(jars, "*")])
    cmd = (["java", "-XX:-UsePerfData", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+UseSerialGC",
            "-XX:-UseDynamicNumberOfCompilerThreads"] + JIT[a.workload] + [f"-Djava.io.tmpdir={work}/tmp",
            f"-Dderby.system.home={work}/derby", "-Dspark.ui.enabled=false",
            f"-Dlog4j2.configurationFile={os.path.join(root, 'perfbench', 'log4j2.properties')}"] +
           [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] +
           ["-cp", cp, "perfbench.Main", "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", a.trace, "--work", work] +
           (["--corrupt-model"] if a.corrupt_model else []))
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True)
    try:
        stdout, _ = proc.communicate(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        shutil.rmtree(work, ignore_errors=True)
        fail(f"the run did not finish within {JVM_TIMEOUT_S} s")
    shutil.rmtree(work, ignore_errors=True)
    lines = [l for l in stdout.splitlines() if l.strip()]
    for l in lines[:-1]:
        print(l)
    if not lines or not lines[-1].startswith("{"):
        fail(f"the run ended with code {proc.returncode} and printed no result")
    print(lines[-1], flush=True)
    sys.exit(proc.returncode)


if __name__ == "__main__":
    main()
