#!/usr/bin/env python3
"""Build and run the layered KG-construction benchmark.

Usage (from the repository root):

    python3 kgbench/run.py --workload kg_batch --seed 1 --seconds 10 --trace 0

The program under test is the Scala library in `src/main/scala` of the
checkout; the benchmark's own sources sit in `kgbench/src/main/scala`.
Both are compiled together with the Scala compiler that ships in
`$SPARK_HOME/jars` (the same jars `kgbench/build.sbt` builds against)
into `.bench_build/kgbench/`, and rebuilt whenever a source changes.
The run itself is one JVM (`kgbench.Main`) whose last stdout line is
the result JSON. Everything it writes stays under `.bench_build/`.
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
PROGRAM_SRC = os.path.join(ROOT, "src", "main", "scala")
BENCH_SRC = os.path.join(HERE, "src", "main", "scala")
BUILD = os.path.join(ROOT, ".bench_build", "kgbench")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 700

# Packages Spark 4 on JDK 17 needs opened when the session is created
# outside spark-submit (org.apache.spark.launcher.JavaModuleOptions);
# kgbench/build.sbt reads the same list for the specs.
ADD_OPENS_FILE = os.path.join(HERE, "add-opens.txt")
# Keep each JVM's files inside the checkout: temp files under
# .bench_build/tmp, and no hsperfdata file in the system temp dir.
TMP = os.path.join(ROOT, ".bench_build", "tmp")
JVM_LOCAL = [f"-Djava.io.tmpdir={TMP}", "-XX:-UsePerfData"]


def fail(msg):
    print(f"kgbench: {msg}", file=sys.stderr)
    sys.exit(2)


def scala_sources():
    out = []
    for base in (PROGRAM_SRC, BENCH_SRC):
        for d, _, files in os.walk(base):
            out += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def source_stamp(files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        fail("SPARK_HOME must point at a Spark 4 install with a jars/ directory")
    jars = os.path.join(home, "jars")
    return jars, sorted(f for f in os.listdir(jars) if f.endswith(".jar"))


def build(files, jars_dir, jar_names):
    """Compile program + benchmark sources; reuse the classes while the
    source stamp is unchanged."""
    classes = os.path.join(BUILD, "classes")
    stamp_file = os.path.join(BUILD, "stamp")
    stamp = source_stamp(files)
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return classes
    compiler = [os.path.join(jars_dir, j) for j in jar_names
                if j.startswith(("scala-compiler-", "scala-library-", "scala-reflect-"))]
    if len(compiler) != 3:
        fail("scala-compiler, scala-library and scala-reflect jars not found in SPARK_HOME/jars")
    shutil.rmtree(BUILD, ignore_errors=True)
    os.makedirs(classes)
    argfile = os.path.join(BUILD, "sources.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(files))
    cmd = ["java", "-Xmx2g", "-Xss8m"] + JVM_LOCAL + ["-cp", os.pathsep.join(compiler),
           "scala.tools.nsc.Main", "-nowarn", "-classpath", os.path.join(jars_dir, "*"),
           "-d", classes, "@" + argfile]
    print("kgbench: compiling %d sources" % len(files), file=sys.stderr)
    try:
        res = subprocess.run(cmd, cwd=ROOT, stdout=sys.stderr, timeout=BUILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        fail("compile timed out")
    if res.returncode != 0:
        fail("compile failed")
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return classes


def heap_gb():
    """Half of physical memory, clamped to 2..4 GiB."""
    try:
        with open("/proc/meminfo") as fh:
            kb = next(int(l.split()[1]) for l in fh if l.startswith("MemTotal:"))
        return max(2, min(4, kb // (2 * 1024 * 1024)))
    except (OSError, StopIteration, ValueError):
        return 2


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    if not os.path.isdir(os.path.join(PROGRAM_SRC, "graft")):
        fail("program sources (src/main/scala/graft) are missing from this checkout")
    jars_dir, jar_names = spark_jars()
    os.makedirs(TMP, exist_ok=True)
    classes = build(scala_sources(), jars_dir, jar_names)

    mem = heap_gb()
    with open(ADD_OPENS_FILE) as fh:
        opens = [l.strip() for l in fh if l.strip()]
    cmd = (["java", f"-Xmx{mem}g", f"-Xms{mem}g", "-XX:+UseG1GC"] + JVM_LOCAL
           + [x for p in opens for x in ("--add-opens", p + "=ALL-UNNAMED")]
           + ["-cp", classes + os.pathsep + os.path.join(jars_dir, "*"),
              "kgbench.Main",
              "--workload", a.workload, "--seed", str(a.seed),
              "--seconds", str(a.seconds), "--trace", str(a.trace),
              "--root", ROOT, "--driver-memory", f"{mem}g"])
    proc = subprocess.Popen(cmd, cwd=ROOT)

    # On a signal, kill the JVM and let the wait below reap it (waiting
    # inside the handler would deadlock on the interrupted wait's lock).
    stopped = []

    def stop(signum, _frame):
        stopped.append(signum)
        proc.kill()

    for s in (signal.SIGTERM, signal.SIGINT, signal.SIGHUP):
        signal.signal(s, stop)
    try:
        code = proc.wait(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        fail(f"run exceeded {RUN_TIMEOUT_S} s")
    if stopped:
        sys.exit(128 + stopped[0])
    sys.exit(code)


if __name__ == "__main__":
    main()
