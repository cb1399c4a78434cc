#!/usr/bin/env python3
"""End-to-end HTTP benchmark of graft.Serve.

    python3 e2ebench/run.py --workload explore|dashboard --seed N --seconds S --trace 0|1
    python3 e2ebench/run.py --selftest

Run from the repository root. The first run compiles the engine
(src/main/scala) and the benchmark (e2ebench/src) with the Scala
compiler shipped in Spark's jars into $CARGO_TARGET_DIR (default
.bench_build); later runs reuse the classes while the sources hash the
same. The last line of stdout is the JSON result.
"""
import argparse
import glob
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

def spark_jars():
    """Spark's jars: under $SPARK_HOME, else beside the first spark-submit
    on PATH whose installation holds the Scala compiler."""
    if os.environ.get("SPARK_HOME"):
        homes = [os.environ["SPARK_HOME"]]
    else:
        bins = [d for d in os.environ.get("PATH", "").split(os.pathsep)
                if os.path.isfile(os.path.join(d, "spark-submit"))]
        homes = [os.path.dirname(os.path.realpath(d)) for d in bins]
    for home in homes:
        jars = os.path.join(home, "jars")
        if os.path.exists(os.path.join(jars, f"scala-compiler-{SCALA}.jar")):
            return jars
    fail("Spark with the Scala compiler not found: set SPARK_HOME")


SCALA = "2.13.17"
# Fixed on both sides of every comparison: the driver heap and the
# JVM flags Spark needs on JDK 17 outside spark-submit.
HEAP = "3g"
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]
RUN_TIMEOUT_S = 170


def fail(msg):
    print(f"[e2ebench] {msg}", file=sys.stderr)
    sys.exit(2)


def sources():
    engine = sorted(glob.glob(os.path.join(ROOT, "src/main/scala/**/*.scala"), recursive=True))
    bench = sorted(glob.glob(os.path.join(HERE, "src/*.scala")))
    tests = sorted(glob.glob(os.path.join(HERE, "test/*.scala")))
    if not engine:
        fail("no engine sources under src/main/scala: run from the repository root")
    return engine, bench, tests


def scalac(out, classpath, files):
    jars = [os.path.join(spark_jars(), f"scala-{p}-{SCALA}.jar") for p in ("compiler", "library", "reflect")]
    for j in jars:
        if not os.path.exists(j):
            fail(f"Scala compiler not found: {j}")
    os.makedirs(out, exist_ok=True)
    cmd = ["java", "-Xmx2g", "-Xss8m", "-XX:-UsePerfData", "-cp", os.pathsep.join(jars), "scala.tools.nsc.Main",
           "-nowarn", "-usejavacp:false", "-classpath", classpath, "-d", out] + files
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout)
        fail("compilation failed")


def build():
    """Compiles engine and benchmark into the build dir, reusing classes
    whose sources have not changed. Returns the runtime classpath."""
    engine, bench, tests = sources()
    build_dir = os.path.abspath(os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build")))
    spark_cp = os.path.join(spark_jars(), "*")
    layers = [("engine", engine), ("bench", bench + tests)]
    cp, digest = [], hashlib.sha256()
    for name, files in layers:
        for f in files:
            digest.update(f.encode())
            with open(f, "rb") as fh:
                digest.update(fh.read())
        out = os.path.join(build_dir, name)
        stamp = os.path.join(out, ".sources")
        key = digest.hexdigest()
        if not (os.path.exists(stamp) and open(stamp).read() == key):
            shutil.rmtree(out, ignore_errors=True)
            print(f"[e2ebench] compiling {name} ({len(files)} files)", file=sys.stderr)
            scalac(out, os.pathsep.join(cp + [spark_cp]), files)
            with open(stamp, "w") as fh:
                fh.write(key)
        cp.append(out)
    resources = os.path.join(ROOT, "src/main/resources")
    return os.pathsep.join(cp + [resources, spark_cp])


def java(classpath, main, args):
    # no perf-data file: the JVM would otherwise write one under /tmp
    cmd = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+UseG1GC", "-XX:-UsePerfData"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-Djava.io.tmpdir=" + os.path.join(ROOT, ".bench_build", "run", "tmp"),
            "-cp", classpath, main] + args
    run_dir = os.path.join(ROOT, ".bench_build", "run")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(run_dir, "tmp"))
    # one run at a time per checkout: the run directory is shared
    proc = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        fail(f"{main} did not finish within {RUN_TIMEOUT_S} s")
    finally:
        # the JVM halts without cleaning up; its data directory and Spark
        # scratch space go here
        shutil.rmtree(run_dir, ignore_errors=True)
    return proc.returncode, out


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int)
    ap.add_argument("--seconds", type=int)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args()
    if a.selftest:
        code, out = java(build(), "e2ebench.SelfTest", [])
        sys.stdout.write(out)
        sys.exit(code)
    if a.workload is None or a.seed is None or a.seconds is None:
        ap.error("--workload, --seed and --seconds are required")
    cp = build()
    code, out = java(cp, "e2ebench.Main", ["--workload", a.workload, "--seed", str(a.seed),
                                           "--seconds", str(a.seconds), "--trace", str(a.trace)])
    lines = [l for l in out.splitlines() if l.strip()]
    if code != 0 or not lines or not lines[-1].startswith("{"):
        sys.stdout.write(out)
        fail(f"benchmark failed (exit {code})")
    for l in lines[:-1]:
        print(l, file=sys.stderr)
    print(lines[-1])


if __name__ == "__main__":
    main()
