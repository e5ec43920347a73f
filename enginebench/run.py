#!/usr/bin/env python3
"""Run one benchmark workload against the engine in this checkout.

    python3 enginebench/run.py --workload <dashboard|index_churn> \
        --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run compiles the program
(src/main) and the benchmark (enginebench/src) together with the Scala
compiler that ships in the Spark jars, into .bench_build/enginebench;
later runs skip the build while the sources are unchanged. Each run then
starts one JVM, which works in its own temporary directory under
.bench_build/enginebench/runs and prints one JSON line; this script
relays that line as the last line of its standard output, deletes the
temporary directory and exits 0 only when the JVM did. With --trace 1
the run's spans are written to enginebench/out/.
"""
import argparse
import hashlib
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build", "enginebench")
PROGRAM_SRC = os.path.join(ROOT, "src", "main", "scala")
PROGRAM_RES = os.path.join(ROOT, "src", "main", "resources")
BENCH_SRC = os.path.join(HERE, "src")


def spark_home():
    """$SPARK_HOME, else the first Spark installation on PATH whose jars
    include a Scala compiler."""
    if os.environ.get("SPARK_HOME"):
        return os.environ["SPARK_HOME"]
    for d in os.environ.get("PATH", "").split(os.pathsep):
        home = os.path.dirname(os.path.abspath(d))
        jars = os.path.join(home, "jars")
        if os.path.isfile(os.path.join(d, "spark-submit")) and os.path.isdir(jars) and \
                any(n.startswith("scala-compiler") for n in os.listdir(jars)):
            return home
    return ""


JARS = os.path.join(spark_home(), "jars")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 800
WORKLOADS = ("dashboard", "index_churn")

# Spark on JDK 17 outside spark-submit needs the module openings that
# spark-submit would add.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"enginebench: {msg}", file=sys.stderr)
    sys.exit(2)


def files_under(d, suffixes):
    out = []
    for base, _, names in os.walk(d):
        out += [os.path.join(base, n) for n in names if n.endswith(suffixes)]
    return sorted(out)


def build():
    """Compile program + benchmark unless the stamp says they are current."""
    program = files_under(PROGRAM_SRC, (".scala", ".java"))
    bench = files_under(BENCH_SRC, (".scala",))
    resources = files_under(PROGRAM_RES, ("",)) if os.path.isdir(PROGRAM_RES) else []
    h = hashlib.sha256()
    for f in program + bench + resources:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    h.update("\n".join(sorted(os.listdir(JARS))).encode())
    stamp = h.hexdigest()
    classes = os.path.join(BUILD, "classes")
    stamp_file = os.path.join(BUILD, "stamp")
    if os.path.isdir(classes) and os.path.exists(stamp_file):
        with open(stamp_file) as fh:
            if fh.read().strip() == stamp:
                return classes
    staging = os.path.join(BUILD, "classes.building")
    shutil.rmtree(staging, ignore_errors=True)
    os.makedirs(staging)
    args_file = os.path.join(BUILD, "scalac.args")
    with open(args_file, "w") as fh:
        fh.write("\n".join(program + bench) + "\n")
    print(f"enginebench: compiling {len(program)} program and {len(bench)} benchmark sources",
          file=sys.stderr)
    t0 = time.time()
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", os.path.join(JARS, "*"), "scala.tools.nsc.Main",
           "-d", staging, "-classpath", os.path.join(JARS, "*"), "-nowarn", "@" + args_file]
    rc = subprocess.run(cmd, stdout=sys.stderr, timeout=BUILD_TIMEOUT_S).returncode
    if rc != 0:
        fail(f"compilation failed (exit {rc})")
    for f in resources:
        dst = os.path.join(staging, os.path.relpath(f, PROGRAM_RES))
        os.makedirs(os.path.dirname(dst), exist_ok=True)
        shutil.copyfile(f, dst)
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(staging, classes)
    with open(stamp_file, "w") as fh:
        fh.write(stamp + "\n")
    print(f"enginebench: compiled in {time.time() - t0:.1f} s", file=sys.stderr)
    return classes


def main():
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", required=True, type=int)
    p.add_argument("--seconds", required=True, type=int)
    p.add_argument("--trace", required=True, choices=("0", "1"))
    a = p.parse_args()
    if a.seconds < 1:
        fail("--seconds must be at least 1")
    if not os.path.isfile(os.path.join(PROGRAM_SRC, "graft", "domain", "Engine.scala")):
        fail(f"no program sources under {PROGRAM_SRC}: run this from the root of a full "
             "checkout of the engine (it builds src/main with the benchmark)")
    if not os.path.isdir(JARS) or not any(n.startswith("scala-compiler") for n in os.listdir(JARS)):
        fail(f"no Spark jars with a Scala compiler at {JARS!r} (set SPARK_HOME)")
    if shutil.which("java") is None:
        fail("no java on PATH")

    os.makedirs(BUILD, exist_ok=True)
    classes = build()

    cpus = str(len(os.sched_getaffinity(0)))
    run_root = os.path.join(BUILD, "runs", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(run_root, ignore_errors=True)
    os.makedirs(os.path.join(run_root, "tmp"))
    cmd = ["java", "-Xmx3g", "-Xss8m", "-XX:+UseSerialGC",
           f"-Djava.io.tmpdir={os.path.join(run_root, 'tmp')}",
           f"-Dspark.local.dir={os.path.join(run_root, 'tmp')}"]
    for o in ADD_OPENS:
        cmd += ["--add-opens", f"{o}=ALL-UNNAMED"]
    cmd += ["-cp", classes + os.pathsep + os.path.join(JARS, "*"), "graftbench.Main",
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", a.trace, "--root", run_root]
    if a.trace == "1":
        cmd += ["--trace-out", os.path.join(HERE, "out", f"trace-{a.workload}-{a.seed}.json")]
    env = dict(os.environ, SPARK_GRAFT_CPUS=cpus)
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, env=env, cwd=run_root,
                            start_new_session=True, text=True)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        shutil.rmtree(run_root, ignore_errors=True)
        fail(f"run exceeded {RUN_TIMEOUT_S} s and was stopped")
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
    shutil.rmtree(run_root, ignore_errors=True)
    lines = [l for l in out.splitlines() if l.startswith('{"correct"')]
    if proc.returncode != 0 or not lines:
        sys.stderr.write(out)
        fail(f"the benchmark JVM exited {proc.returncode} without a result")
    print(lines[-1])


if __name__ == "__main__":
    main()
