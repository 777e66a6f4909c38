#!/usr/bin/env python3
"""Benchmark command for the graft library.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run builds the library
(`src/main/scala`) and the benchmark (`perfbench/src`) from source with
the Scala compiler that ships in the Spark distribution, into
`perfbench/.build/<source hash>`; later runs reuse that build. Then it
starts one JVM (`graft.perfbench.Main`) that sets up, warms up, runs
the workload's chain in a closed loop for `--seconds`, checks every
output and prints one JSON line, which this script repeats as the last
line of its standard output. Scratch data (inputs, indexes, Spark
local dirs) lives in a fresh `perfbench/.work/` directory that is
deleted on exit; the run's spans and samples are kept in
`perfbench/.out/<workload>-seed<n>-trace<t>.json`.

Workloads are listed in BENCHMARK.json. Extra flags (`--smoke 1`,
`--poison <n>`) are used by `perfbench/smoke.py` only.
"""
import argparse
import glob
import hashlib
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
LIB_SRC = os.path.join(ROOT, "src", "main", "scala")
BENCH_SRC = os.path.join(HERE, "src")
# the Spark distribution: $SPARK_HOME, else the one whose spark-submit
# is on PATH
SPARK_HOME = os.environ.get("SPARK_HOME") or os.path.dirname(os.path.dirname(
    os.path.realpath(shutil.which("spark-submit") or ".")))
SPARK_JARS = os.path.join(SPARK_HOME, "jars")
WORKLOADS = ("recsys_flow", "index_lifecycle")

RUN_LIMIT_S = 170      # a run must end within 180 s
BUILD_LIMIT_S = 600    # the first run in a checkout may also build
MAX_CORES = 4
HEAP = "2g"

# JDK 17 module opens Spark needs outside spark-submit (the list in the
# library's build.sbt, from Spark's JavaModuleOptions)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(2)


def sources():
    lib = sorted(glob.glob(os.path.join(LIB_SRC, "**", "*.scala"), recursive=True))
    bench = sorted(glob.glob(os.path.join(BENCH_SRC, "**", "*.scala"), recursive=True))
    if not lib or not os.path.isfile(os.path.join(LIB_SRC, "graft", "Sessions.scala")):
        fail(f"library sources not found under {LIB_SRC}; run from a checkout root")
    if not bench:
        fail(f"benchmark sources not found under {BENCH_SRC}")
    return lib + bench


def spark_classpath():
    jars = sorted(glob.glob(os.path.join(SPARK_JARS, "*.jar")))
    if not any(os.path.basename(j).startswith("scala-compiler") for j in jars):
        fail(f"no Spark distribution with a Scala compiler under {SPARK_JARS}")
    return jars


def build(srcs, jars, deadline):
    """Compile library + benchmark once per source hash."""
    h = hashlib.sha256()
    for p in srcs:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    builds = os.path.join(HERE, ".build")
    out = os.path.join(builds, h.hexdigest()[:16])
    if os.path.isfile(os.path.join(out, "ok")):
        return os.path.join(out, "classes"), False
    if os.path.isdir(builds):
        shutil.rmtree(builds)
    tmp = out + ".tmp"
    os.makedirs(os.path.join(tmp, "classes"))
    cmd = ["java", "-XX:-UsePerfData", "-Xss16m", "-Xmx2g",
           "-cp", os.path.join(SPARK_JARS, "*"),
           "scala.tools.nsc.Main", "-nowarn", "-d", os.path.join(tmp, "classes"),
           "-classpath", os.pathsep.join(jars)] + srcs
    print(f"[perfbench] building {len(srcs)} sources", file=sys.stderr)
    t0 = time.time()
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr,
                       timeout=max(1, deadline - time.time()))
    if r.returncode != 0:
        shutil.rmtree(builds, ignore_errors=True)
        fail(f"build failed (exit {r.returncode})")
    open(os.path.join(tmp, "ok"), "w").close()
    os.rename(tmp, out)
    print(f"[perfbench] built in {time.time() - t0:.1f} s", file=sys.stderr)
    return os.path.join(out, "classes"), True


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    ap.add_argument("--smoke", default="0", choices=("0", "1"))
    ap.add_argument("--poison", default="0")
    a = ap.parse_args()

    t0 = time.time()
    srcs = sources()
    jars = spark_classpath()
    classes, built = build(srcs, jars, t0 + BUILD_LIMIT_S)
    deadline = (time.time() if built else t0) + RUN_LIMIT_S

    work = os.path.join(HERE, ".work", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    for d in ("inputs", "index", "tmp", "local", "warehouse"):
        os.makedirs(os.path.join(work, d))
    out = os.path.join(HERE, ".out", f"{a.workload}-seed{a.seed}-trace{a.trace}.json")
    cores = max(1, min(MAX_CORES, len(os.sched_getaffinity(0))))
    # -XX:-UsePerfData: no hsperfdata file under /tmp, outside the checkout
    cmd = (["java", "-XX:-UsePerfData", f"-Xmx{HEAP}", "-XX:+UseG1GC"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + [f"-Dlog4j.configurationFile={HERE}/log4j2.properties",
              f"-Djava.io.tmpdir={work}/tmp", f"-Dspark.local.dir={work}/local",
              f"-Dspark.sql.warehouse.dir={work}/warehouse",
              "-cp", os.pathsep.join([classes, os.path.join(SPARK_JARS, "*")]),
              "graft.perfbench.Main",
              "--workload", a.workload, "--seed", str(a.seed),
              "--seconds", str(a.seconds), "--trace", a.trace,
              "--work", work, "--out", out, "--cores", str(cores),
              "--smoke", a.smoke, "--poison", a.poison])
    env = dict(os.environ, SPARK_GRAFT_INDEX_ROOT=os.path.join(work, "index"))
    # a terminated run still stops its JVM and removes its scratch data
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    proc = subprocess.Popen(cmd, cwd=work, env=env, stdout=subprocess.PIPE,
                            stderr=sys.stderr, text=True, start_new_session=True)
    try:
        stdout, _ = proc.communicate(timeout=max(1, deadline - time.time()))
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        shutil.rmtree(work, ignore_errors=True)
        fail(f"run exceeded {RUN_LIMIT_S} s; killed")
    except BaseException:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        shutil.rmtree(work, ignore_errors=True)
        raise
    shutil.rmtree(os.path.dirname(work) if len(os.listdir(os.path.dirname(work))) == 1
                  else work, ignore_errors=True)
    lines = [l for l in stdout.splitlines() if l.strip()]
    result = [l for l in lines if l.startswith("{")]
    for l in lines:
        if not result or l is not result[-1]:
            print(l, file=sys.stderr)
    if not result:
        fail(f"benchmark JVM printed no result (exit {proc.returncode})")
    print(result[-1])
    sys.exit(proc.returncode)


if __name__ == "__main__":
    main()
