#!/usr/bin/env python3
"""Warm per-call benchmark of the RiskLoc engine.

Run from the repository root:

    python3 perfbench/run.py --workload instance-small --seed 1 --seconds 20 --trace 0

The first run compiles the engine (src/main/scala) and the driver
(perfbench/src) with the Scala compiler shipped in the Spark distribution
($SPARK_HOME, else the pyspark package), into .bench_build/perfbench; later runs reuse the classes while the
sources are unchanged. The last line of standard output is one JSON object:
{"correct", "attempted", "failed", "metrics"}.

Other modes:
    --self-test   run the driver's own unit checks (perfbench.SelfTest)
    --record      after a clean run, store the run's prediction digests and
                  F1 as the committed expectation for its seed
"""
import argparse
import hashlib
import importlib.util
import json
import os
import shutil
import signal
import subprocess
import sys
import time

ROOT = os.getcwd()
HERE = os.path.dirname(os.path.abspath(__file__))
SOURCES = [os.path.join("src", "main", "scala"), os.path.join("perfbench", "src")]
RESOURCES = os.path.join("src", "main", "resources")
WORKLOADS = ["instance-small", "corpus-small"]
DEADLINE_S = 170
HEAP = "4g"
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/jdk.internal.ref", "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_jars():
    """$SPARK_HOME/jars, else the jars of the installed pyspark package."""
    spec = importlib.util.find_spec("pyspark")
    for home in (os.environ.get("SPARK_HOME"), spec and os.path.dirname(spec.origin)):
        if home and os.path.isdir(os.path.join(home, "jars")):
            return os.path.join(home, "jars")
    fail("no Spark distribution: set SPARK_HOME")


def source_files():
    files = []
    for top in SOURCES:
        if not os.path.isdir(os.path.join(ROOT, top)):
            fail(f"missing {top}: run from the root of a repository checkout")
        for d, _, names in os.walk(os.path.join(ROOT, top)):
            files += [os.path.join(d, n) for n in names if n.endswith(".scala")]
    return sorted(files)


def build(build_dir, jars):
    """Compile engine + driver once per source state; return the classes dir."""
    files = source_files()
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    classes = os.path.join(build_dir, "classes-" + h.hexdigest()[:16])
    if os.path.isfile(os.path.join(classes, ".ok")):
        return classes
    tmp = classes + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    cp = os.path.join(jars, "*")
    t0 = time.time()
    proc = subprocess.run(
        ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main", "-nowarn",
         "-d", tmp, "-cp", cp] + files,
        stdout=sys.stderr, stderr=sys.stderr)
    if proc.returncode != 0:
        fail(f"compilation failed (exit {proc.returncode})")
    open(os.path.join(tmp, ".ok"), "w").close()
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(tmp, classes)
    print(f"perfbench: compiled {len(files)} files in {time.time() - t0:.1f}s", file=sys.stderr)
    return classes


def java_cmd(classes, jars, tmp, main, args):
    opens = [f"--add-opens={m}=ALL-UNNAMED" for m in ADD_OPENS]
    props = [f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}",
             f"-Dderby.system.home={tmp}",
             f"-Dspark.sql.warehouse.dir={os.path.join(tmp, 'warehouse')}",
             "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    cp = os.pathsep.join([classes, os.path.join(ROOT, RESOURCES), os.path.join(jars, "*")])
    # -XX:-UsePerfData: no hsperfdata file outside the checkout
    return (["java", f"-Xmx{HEAP}", "-XX:-UsePerfData", "-XX:+IgnoreUnrecognizedVMOptions",
             "--enable-native-access=ALL-UNNAMED"] + opens + props + ["-cp", cp, main] + args)


def run_java(cmd, timeout):
    """Run the JVM in its own process group; kill the group on timeout or
    when this process is interrupted or terminated."""
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    proc = subprocess.Popen(cmd, start_new_session=True)
    try:
        return proc.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        fail(f"run exceeded {timeout:.0f}s and was stopped")
    except BaseException:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        raise


def record(observed, expected):
    """Replace the expectation rows of the observed seed with the run's."""
    with open(observed) as fh:
        new = [l for l in fh.read().splitlines() if l]
    seed = new[0].split("\t")[0]
    old = []
    if os.path.isfile(expected):
        with open(expected) as fh:
            old = [l for l in fh.read().splitlines() if l and l.split("\t")[0] != seed]
    rows = sorted(old + new, key=lambda l: (int(l.split("\t")[0]), l))
    with open(expected, "w") as fh:
        fh.write("\n".join(rows) + "\n")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=20)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--self-test", action="store_true")
    ap.add_argument("--record", action="store_true")
    a = ap.parse_args()
    if not a.self_test and not a.workload:
        ap.error("--workload is required")

    build_dir = os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build"), "perfbench")
    jars = spark_jars()
    classes = build(build_dir, jars)
    tmp = os.path.join(build_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = tmp  # takes precedence over spark.local.dir
    started = time.time()

    if a.self_test:
        sys.exit(run_java(java_cmd(classes, jars, tmp, "perfbench.SelfTest", []), DEADLINE_S))

    work = os.path.join(build_dir, "work", f"{a.workload}-s{a.seed}-t{a.trace}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    result = os.path.join(work, "result.json")
    expected = os.path.join(HERE, "expected", f"{a.workload}.tsv")
    args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--work", work, "--result", result,
            "--expected", expected]
    code = run_java(java_cmd(classes, jars, tmp, "perfbench.Main", args),
                    DEADLINE_S - (time.time() - started))
    for d in os.listdir(work):
        if d.startswith("data"):
            shutil.rmtree(os.path.join(work, d), ignore_errors=True)
    if code != 0 or not os.path.isfile(result):
        fail(f"driver exited with code {code} and no result")
    with open(result) as fh:
        out = json.load(fh)
    if a.record:
        if not out["correct"]:
            fail("not recording expectations from a run that was not correct")
        record(os.path.join(work, "observed.tsv"), expected)
    print(json.dumps(out))


if __name__ == "__main__":
    main()
