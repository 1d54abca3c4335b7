#!/usr/bin/env python3
"""Build projspark and the benchmark from source, then run one workload.

    python3 perfbench/run.py --workload geo_enrich --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --workload all --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --selftest

The Scala sources of the program (src/main/scala) and of the benchmark
(perfbench/src) are compiled with the Scala compiler that ships in
$SPARK_HOME/jars, into $CARGO_TARGET_DIR (default .bench_build) under the
checkout; a build is reused while the sources are unchanged. Each run gets
its own scratch directory under .bench_tmp, deleted at exit. Reports and
trace spans go to .bench_out. The last stdout line is the JSON result;
`--workload all` runs every workload in turn, each printing its own, and
exits nonzero if any run did.
"""
import argparse
import hashlib
import os
import shutil
import signal
import subprocess
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SOURCES = [os.path.join(ROOT, "src", "main", "scala"), os.path.join(ROOT, "perfbench", "src")]
RESOURCES = os.path.join(ROOT, "src", "main", "resources")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 800
WORKLOADS = ["geo_enrich", "geo_kernels", "geo_knn", "corpus_rw"]
SCALA_JARS = ["scala-compiler-2.13.17.jar", "scala-library-2.13.17.jar", "scala-reflect-2.13.17.jar"]
# Spark on JDK 17 outside spark-submit needs these (JavaModuleOptions).
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


def scala_files():
    out = []
    for base in SOURCES:
        for d, _, files in os.walk(base):
            out += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def digest(files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()[:16]


def java():
    home = os.environ.get("JAVA_HOME")
    exe = os.path.join(home, "bin", "java") if home else shutil.which("java")
    if not exe or not os.path.exists(exe):
        fail("no java: set JAVA_HOME or put java on PATH")
    return exe


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        fail("SPARK_HOME must point at a Spark 4 distribution with a jars/ directory")
    jars = os.path.join(home, "jars")
    for j in SCALA_JARS:
        if not os.path.exists(os.path.join(jars, j)):
            fail(f"{j} not found in {jars}")
    return jars


def build():
    """Compile program + benchmark once per source digest; return the class dir."""
    for base in SOURCES:
        if not os.path.isdir(base):
            fail(f"{os.path.relpath(base, ROOT)} is missing: run from a full projspark checkout")
    files = scala_files()
    jars = spark_jars()
    target = os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
    classes = os.path.join(target, "perfbench-classes-" + digest(files))
    if os.path.exists(os.path.join(classes, ".built")):
        return classes
    os.makedirs(target, exist_ok=True)
    for old in os.listdir(target):
        if old.startswith("perfbench-classes-"):
            shutil.rmtree(os.path.join(target, old), ignore_errors=True)
    staging = tempfile.mkdtemp(prefix="staging-", dir=target)
    argfile = os.path.join(staging, "sources.txt")
    outdir = os.path.join(staging, "classes")
    os.makedirs(outdir)
    with open(argfile, "w") as fh:
        fh.write("\n".join(files) + "\n")
    cp = ":".join(os.path.join(jars, j) for j in SCALA_JARS)
    cmd = [java(), "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", f"-Djava.io.tmpdir={staging}", "-cp", cp,
           "scala.tools.nsc.Main", "-nowarn", "-classpath", os.path.join(jars, "*"),
           "-d", outdir, "@" + argfile]
    print(f"perfbench: compiling {len(files)} Scala files", file=sys.stderr)
    t0 = time.time()
    res = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr, timeout=BUILD_TIMEOUT_S)
    if res.returncode != 0:
        shutil.rmtree(staging, ignore_errors=True)
        fail("compilation failed")
    os.rename(outdir, classes)
    shutil.rmtree(staging, ignore_errors=True)
    open(os.path.join(classes, ".built"), "w").close()
    print(f"perfbench: compiled in {time.time() - t0:.1f}s", file=sys.stderr)
    return classes


def git_commit():
    try:
        return subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True,
                              text=True, timeout=10).stdout.strip() or "none"
    except (OSError, subprocess.SubprocessError):
        return "none"


def run_java(classes, main, args, tmp):
    # no hsperfdata file: the JVM would write it outside the checkout
    cmd = [java(), "-XX:-UsePerfData", "-Xmx3g", "-Xss8m", f"-Djava.io.tmpdir={tmp}",
           f"-Dderby.system.home={tmp}"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", ":".join([classes, RESOURCES, os.path.join(spark_jars(), "*")]), main] + args
    proc = subprocess.Popen(cmd, cwd=tmp, start_new_session=True)
    try:
        return proc.wait(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        print(f"perfbench: run exceeded {RUN_TIMEOUT_S}s, stopping it", file=sys.stderr)
        return 3
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int)
    ap.add_argument("--seconds", type=int)
    ap.add_argument("--trace", choices=["0", "1"], default="0")
    ap.add_argument("--selftest", action="store_true", help="run the benchmark's own tests")
    a = ap.parse_args()
    if not a.selftest and (a.workload is None or a.seed is None or a.seconds is None):
        ap.error("--workload, --seed and --seconds are required")

    classes = build()
    if a.selftest:
        sys.exit(in_tmp("selftest", lambda tmp: run_java(classes, "graft.perfbench.SelfTest", [], tmp)))
    codes = [in_tmp(w, lambda tmp: run_java(classes, "graft.perfbench.Main", [
        "--workload", w, "--seed", str(a.seed), "--seconds", str(a.seconds),
        "--trace", a.trace, "--tmp", tmp, "--out", os.path.join(ROOT, ".bench_out"),
        "--stamp-git_commit", git_commit(),
        "--stamp-source_digest", os.path.basename(classes).split("-")[-1]], tmp))
        for w in (WORKLOADS if a.workload == "all" else [a.workload])]
    sys.exit(max(codes))


def in_tmp(name, run):
    """Run `run(tmp)` in a fresh scratch directory, deleted afterwards."""
    tmp_root = os.path.join(ROOT, ".bench_tmp")
    os.makedirs(tmp_root, exist_ok=True)
    tmp = tempfile.mkdtemp(prefix=f"{name}-", dir=tmp_root)
    try:
        return run(tmp)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
        try:
            os.rmdir(tmp_root)
        except OSError:
            pass


if __name__ == "__main__":
    main()
