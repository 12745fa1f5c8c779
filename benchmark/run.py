#!/usr/bin/env python3
"""Build the engine and the benchmark from source, then run one workload.

    python3 benchmark/run.py --workload telemetry_lookup --seed 1 --seconds 12 --trace 0
    python3 benchmark/run.py --selftest

Run from any directory; paths resolve against the checkout that holds this
file. The engine (`src/main/scala`) and the benchmark (`benchmark/src`) are
compiled with the Scala compiler shipped in the Spark jar directory into
`.bench_build/graftbench/`, each only when its sources changed. The last
line of standard output is the run's JSON result; progress goes to stderr.
"""
import argparse
import hashlib
import json
import os
import re
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build", "graftbench")
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
BENCH_SRC = os.path.join(HERE, "src")
RUN_TIMEOUT_S = 170

# Spark on JDK 17 outside spark-submit needs the same module openings the
# engine's build.sbt passes to its forked JVMs.
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
    print(f"[benchmark] {msg}", file=sys.stderr)
    sys.exit(2)


def spark_jars():
    """The Spark jar directory: $SPARK_HOME/jars, else build.sbt's unmanagedBase."""
    cands = []
    if os.environ.get("SPARK_HOME"):
        cands.append(os.path.join(os.environ["SPARK_HOME"], "jars"))
    sbt = os.path.join(ROOT, "build.sbt")
    if os.path.isfile(sbt):
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open(sbt).read())
        if m:
            cands.append(m.group(1))
    for d in cands:
        if os.path.isfile(os.path.join(d, "scala-compiler-2.13.17.jar")):
            return d
    fail("no Spark jar directory with the Scala 2.13 compiler found")


def sources(root):
    out = []
    for d, _, files in os.walk(root):
        out += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def digest(paths):
    h = hashlib.sha256()
    for p in paths:
        h.update(p.encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def compile_tree(name, srcs, classpath, jars, depends=""):
    """Compile `srcs` into BUILD/<name>, skipped when the stamp matches.

    `depends` is the stamp of the tree these sources link against, so they
    are recompiled whenever it is (a changed signature or inlined constant
    in the engine would otherwise surface only at run time).
    Returns the output directory and its stamp.
    """
    out = os.path.join(BUILD, name)
    stamp = os.path.join(BUILD, name + ".stamp")
    want = digest(srcs + [os.path.join(jars, "scala-compiler-2.13.17.jar")])
    want = hashlib.sha256((want + depends).encode()).hexdigest()
    if os.path.isfile(stamp) and open(stamp).read() == want:
        return out, want
    print(f"[benchmark] compiling {name} ({len(srcs)} files)", file=sys.stderr)
    subprocess.run(["rm", "-rf", out], check=True)
    os.makedirs(out)
    argfile = os.path.join(BUILD, name + ".args")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs))
    compiler = ":".join(os.path.join(jars, j) for j in (
        "scala-compiler-2.13.17.jar", "scala-library-2.13.17.jar",
        "scala-reflect-2.13.17.jar"))
    res = subprocess.run(
        ["java", "-Xmx2g", "-Xss8m", "-cp", compiler, "scala.tools.nsc.Main",
         "-nowarn", "-classpath", classpath, "-d", out, "@" + argfile],
        stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if res.returncode != 0:
        sys.stderr.write(res.stdout)
        fail(f"compiling {name} failed")
    with open(stamp, "w") as f:
        f.write(want)
    return out, want


def build():
    if not os.path.isdir(ENGINE_SRC) or not sources(ENGINE_SRC):
        fail(f"engine sources not found under {os.path.relpath(ENGINE_SRC, ROOT)}")
    if not sources(BENCH_SRC):
        fail("benchmark sources not found")
    jars = spark_jars()
    os.makedirs(BUILD, exist_ok=True)
    spark_cp = os.path.join(jars, "*")
    engine, engine_stamp = compile_tree("engine", sources(ENGINE_SRC), spark_cp, jars)
    bench, _ = compile_tree("bench", sources(BENCH_SRC),
                            spark_cp + ":" + engine, jars, depends=engine_stamp)
    return ":".join([bench, engine, spark_cp])


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=12)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args()
    if not a.selftest and not a.workload:
        ap.error("--workload is required")

    classpath = build()
    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    jvm = ["java", "-Xms2g", "-Xmx2g", "-Xss4m", "-XX:+UseG1GC",
           f"-Djava.io.tmpdir={tmp}",
           f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
           "-cp", classpath]
    for p in ADD_OPENS:
        jvm += ["--add-opens", f"{p}=ALL-UNNAMED"]
    main = jvm + ["graftbench.Main", "--work", BUILD]
    if not a.selftest:
        sys.exit(run(main + ["--workload", a.workload, "--seed", str(a.seed),
                             "--seconds", str(a.seconds), "--trace", str(a.trace)]))

    if run(jvm + ["graftbench.SelfTest", "--work", BUILD]) != 0:
        fail("self-test failed")
    # A whole run with one wrong answer injected (a lookup result with a
    # row dropped; a gate that loses one document) must count it as failed
    # and exit non-zero.
    for workload in ("telemetry_lookup", "corpus_dedup"):
        out = os.path.join(BUILD, f"selftest-fault-{workload}.out")
        with open(out, "w") as f:
            code = run(main + ["--workload", workload, "--seed", "5",
                               "--seconds", "1", "--trace", "0", "--inject-fault", "0"],
                       stdout=f)
        last = json.loads(open(out).read().strip().splitlines()[-1])
        ok = code != 0 and last["failed"] >= 1 and last["correct"] is False
        print(f"[selftest] {'ok  ' if ok else 'FAIL'} {workload} injected fault: exit {code}, "
              f"failed {last['failed']} of {last['attempted']}", file=sys.stderr)
        if not ok:
            fail("self-test failed")
    print("[selftest] all passed", file=sys.stderr)


def run(cmd, stdout=None):
    """Runs the JVM, stopping it after RUN_TIMEOUT_S; returns its exit code."""
    proc = subprocess.Popen(cmd, cwd=ROOT, stdout=stdout)
    try:
        return proc.wait(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        fail(f"run exceeded {RUN_TIMEOUT_S} s and was stopped")


if __name__ == "__main__":
    main()
