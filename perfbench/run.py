#!/usr/bin/env python3
"""Index-pipeline benchmark: build the program and the benchmark from
source, then run one workload in one JVM and print its JSON result as the
last line of standard output.

    python3 perfbench/run.py --workload index_html --seed 1 --seconds 20 --trace 0

Workloads: index_html, index_tiny, lookup_mix. `--trace 1` reports the
per-layer metrics instead of the end-to-end ones and writes the run's
spans to perfbench/traces/. `--cores N` runs the engine on N cores (the
corpus stays sized for the whole machine), for scaling tables.

Needs a JDK on PATH and a Spark install, found through SPARK_HOME or
spark-submit on PATH (the Scala compiler and every library come from its
jars/). Exits non-zero, printing no result, when the
build or any output check fails.
"""
import argparse
import fcntl
import json
import os
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("index_html", "index_tiny", "lookup_mix")
RUN_TIMEOUT_S = 170
JVM_OPTS = [
    # a fixed heap and young generation: the touched heap, and so the
    # peak RSS, then follows what the program keeps, not GC sizing luck
    "-Xms3g", "-Xmx3g", "-Xmn1g", "-Xss8m",
    # no hsperfdata file in the system temp directory
    "-XX:-UsePerfData",
    "-Dspark.ui.enabled=false",
    "-Dspark.sql.session.timeZone=UTC",
] + [
    arg
    for pkg in (
        "java.base/java.lang", "java.base/java.lang.invoke",
        "java.base/java.lang.reflect", "java.base/java.io",
        "java.base/java.net", "java.base/java.nio",
        "java.base/java.util", "java.base/java.util.concurrent",
        "java.base/java.util.concurrent.atomic",
        "java.base/sun.nio.ch", "java.base/sun.nio.cs",
        "java.base/sun.security.action", "java.base/sun.util.calendar",
    )
    for arg in ("--add-opens", pkg + "=ALL-UNNAMED")
]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def find_spark_home():
    """the first spark-submit on PATH that sits in a Spark install"""
    for d in os.environ.get("PATH", "").split(os.pathsep):
        home = os.path.dirname(os.path.abspath(d))
        if os.path.isfile(os.path.join(d, "spark-submit")) and \
                os.path.isdir(os.path.join(home, "jars")):
            return home
    return None


def build(spark_home):
    """compile under a lock, so concurrent runs never see half a build"""
    os.makedirs(os.path.join(HERE, ".build"), exist_ok=True)
    with open(os.path.join(HERE, ".build", "lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        env = dict(os.environ, SPARK_HOME=spark_home)
        r = subprocess.run(["make", "-s", "-C", HERE], env=env,
                           stdout=sys.stderr, stderr=sys.stderr)
        if r.returncode != 0:
            fail("build failed")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", choices=("0", "1"), required=True)
    ap.add_argument("--cores", type=int, default=None)
    a = ap.parse_args()

    spark_home = os.environ.get("SPARK_HOME") or find_spark_home()
    if not spark_home or not os.path.isdir(os.path.join(spark_home, "jars")):
        fail("set SPARK_HOME, or put spark-submit on PATH")
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        fail(f"no program sources under {ROOT}/src/main/scala")
    build(spark_home)

    work = os.path.join(HERE, ".work", f"run-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    trace_file = os.path.join(HERE, "traces", f"{a.workload}-seed{a.seed}.json")
    cp = os.pathsep.join([os.path.join(HERE, ".build", "classes"),
                          os.path.join(spark_home, "jars", "*")])
    cmd = ["java"] + JVM_OPTS + [
        f"-Djava.io.tmpdir={tmp}",
        f"-Dspark.local.dir={os.path.join(work, 'spark-local')}",
        f"-Dspark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
        f"-Dderby.system.home={os.path.join(work, 'derby')}",
        f"-Dspark.hadoop.hadoop.tmp.dir={os.path.join(work, 'hadoop')}",
        "-cp", cp, "graftbench.Main",
        "--workload", a.workload, "--seed", str(a.seed),
        "--seconds", str(a.seconds), "--trace", a.trace,
        "--work", os.path.join(work, "data"), "--trace-file", trace_file,
    ] + (["--cores", str(a.cores)] if a.cores else [])

    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=sys.stderr,
                            cwd=ROOT, start_new_session=True, text=True)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        shutil.rmtree(work, ignore_errors=True)
        fail(f"run exceeded {RUN_TIMEOUT_S} s")
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
    shutil.rmtree(work, ignore_errors=True)

    lines = out.strip().splitlines()
    for line in lines[:-1]:
        print(line, file=sys.stderr)
    if proc.returncode != 0 or not lines:
        fail(f"benchmark exited with code {proc.returncode}", 1)
    result = json.loads(lines[-1])
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        fail(f"malformed result: {lines[-1]}", 1)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
