#!/usr/bin/env python3
"""Build and run the perfbench benchmark.

Usage (from the repository root):
  python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
  python3 perfbench/run.py --selftest
  python3 perfbench/run.py --workload record-digests   # rewrites perfbench/expected_digests.json

The engine (src/main/scala) and the benchmark (perfbench/src) are
compiled together with the Scala compiler that ships in Spark's jar
directory into .bench_build/classes, once per source state. Inputs,
outputs, scratch and trace artifacts go under .bench_build/work. The
last stdout line of a workload run is the result JSON.
"""
import argparse
import hashlib
import os
import shutil
import subprocess
import sys
import time

BENCH = "perfbench"
BUILD = ".bench_build"
TIMEOUT_S = 170
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_jars():
    """Spark's jar directory: $SPARK_HOME/jars, else the jars directory
    beside the first spark-submit on PATH that has one."""
    homes = [os.environ["SPARK_HOME"]] if os.environ.get("SPARK_HOME") else [
        os.path.dirname(os.path.realpath(d))
        for d in os.environ.get("PATH", "").split(os.pathsep)
        if os.path.isfile(os.path.join(d, "spark-submit"))]
    for home in homes:
        if os.path.isdir(os.path.join(home, "jars")):
            return os.path.join(home, "jars")
    fail("no Spark jars found (set SPARK_HOME)")


def sources():
    out = []
    for root in ("src/main/scala", os.path.join(BENCH, "src")):
        if not os.path.isdir(root):
            fail(f"missing {root}: run from the repository root of a full checkout")
        for d, _, files in os.walk(root):
            out += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def build(jars):
    """Compile engine + benchmark unless the same sources are built."""
    srcs = sources()
    h = hashlib.sha256()
    for p in srcs:
        h.update(p.encode())
        with open(p, "rb") as f:
            h.update(f.read())
    stamp = h.hexdigest()
    classes = os.path.join(BUILD, "classes")
    stamp_file = os.path.join(classes, ".stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return classes
    tmp = os.path.join(BUILD, "classes.tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    t = time.time()
    cmd = ["java", "-Xss16m", "-Xmx2g", "-cp", os.path.join(jars, "*"),
           "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", tmp] + srcs
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        fail("compilation failed")
    with open(os.path.join(tmp, ".stamp"), "w") as f:
        f.write(stamp)
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(tmp, classes)
    print(f"perfbench: compiled {len(srcs)} files in {time.time() - t:.1f} s", file=sys.stderr)
    return classes


def java_cmd(jars, classes, main, args):
    work = os.path.abspath(os.path.join(BUILD, "work"))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
    cp = os.pathsep.join([classes, "src/main/resources", os.path.join(jars, "*")])
    return work, ["java"] + opens + [
        "-Xms4g", "-Xmx4g", "-XX:+UnlockDiagnosticVMOptions",
        "-XX:GCLockerRetryAllocationCount=100", f"-Djava.io.tmpdir={tmp}",
        "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
        "-cp", cp, main] + args


def run_jvm(cmd, work, timeout=TIMEOUT_S):
    env = dict(os.environ, SPARK_GRAFT_SCRATCH_DIR=os.path.join(work, "scratch"))
    p = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=sys.stderr, env=env, text=True)
    try:
        out, _ = p.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        p.kill()
        p.wait()
        fail(f"timed out after {timeout} s")
    return p.returncode, out


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=25)
    ap.add_argument("--trace", type=int, default=0, choices=[0, 1])
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args()
    if not a.selftest and not a.workload:
        fail("--workload or --selftest is required")
    jars = spark_jars()
    classes = build(jars)
    if a.selftest:
        work, cmd = java_cmd(jars, classes, "perfbench.SelfTest", ["--bench", BENCH])
        code, out = run_jvm(cmd, work)
        sys.stdout.write(out)
        sys.exit(code)
    work, cmd = java_cmd(jars, classes, "perfbench.Main", [
        "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
        "--trace", str(a.trace), "--work", "", "--bench", BENCH])
    run_dir = os.path.join(work, f"{a.workload}-{os.getpid()}")
    cmd[cmd.index("--work") + 1] = run_dir
    try:
        # recording runs every registered query once: minutes, not a timed run
        code, out = run_jvm(cmd, work, 1800 if a.workload == "record-digests" else TIMEOUT_S)
    finally:
        # keep trace artifacts, drop inputs/outputs
        trace = os.path.join(run_dir, "trace")
        if os.path.isdir(trace):
            dest = os.path.join(BUILD, "trace")
            os.makedirs(dest, exist_ok=True)
            for f in os.listdir(trace):
                shutil.copy(os.path.join(trace, f), dest)
        shutil.rmtree(run_dir, ignore_errors=True)
    lines = out.rstrip("\n").split("\n") if out else []
    if code != 0 or not lines or not lines[-1].startswith("{"):
        sys.stdout.write(out)
        fail(f"benchmark exited with code {code}")
    sys.stdout.write(out)
    sys.exit(0)


if __name__ == "__main__":
    main()
