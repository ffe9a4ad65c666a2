#!/usr/bin/env python3
"""Benchmark entry point: builds the harness (engine sources + perfbench
sources) with sbt when the sources changed, then runs one workload in a
single JVM at local[N], N = the machine's core count.

    python3 perfbench/run.py --workload coverage|resume|suggest \
        --seed N --seconds S --trace 0|1

Run from the repository root. Everything the run writes (build output,
input cache, Spark scratch, traces) stays under perfbench/.work and the
sbt target directories. The last stdout line is the JSON result.
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
WORK = os.path.join(HERE, ".work")
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
RUN_LIMIT_S = 170
BUILD_LIMIT_S = 840

ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io",
             "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_home():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        fail("no Spark distribution found (set SPARK_HOME or put spark-submit on PATH)")
    return home


def source_stamp():
    h = hashlib.sha256()
    for base in (ENGINE_SRC, os.path.join(HERE, "src")):
        for d, _, files in sorted(os.walk(base)):
            for f in sorted(files):
                if f.endswith((".scala", ".java")):
                    p = os.path.join(d, f)
                    h.update(p[len(ROOT):].encode())
                    with open(p, "rb") as fh:
                        h.update(fh.read())
    for f in ("build.sbt", os.path.join("project", "build.properties")):
        with open(os.path.join(HERE, f), "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def run_group(cmd, timeout, **kw):
    """Run cmd in its own process group; kill the whole group on timeout,
    on error, or when this script is interrupted."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        return p, p.wait(timeout=timeout)
    except BaseException:
        try:
            os.killpg(p.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        p.wait()
        raise


def build(env):
    stamp_file = os.path.join(WORK, "build", "stamp")
    cp_file = os.path.join(WORK, "build", "classpath")
    stamp = source_stamp()
    if os.path.exists(stamp_file) and os.path.exists(cp_file):
        with open(stamp_file) as fh:
            if fh.read() == stamp:
                with open(cp_file) as fh2:
                    return fh2.read(), False
    if not shutil.which("sbt"):
        fail("sbt is required to build the benchmark")
    os.makedirs(os.path.dirname(stamp_file), exist_ok=True)
    log = os.path.join(WORK, "build", "sbt.log")
    with open(log, "w") as out:
        _, code = run_group(["sbt", "-batch", "-Dsbt.server.autostart=false",
                             "-J-XX:-UsePerfData",
                             "compile", "export Runtime/fullClasspath"],
                            BUILD_LIMIT_S, cwd=HERE, env=env, stdout=out,
                            stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL)
    with open(log) as fh:
        lines = fh.read().splitlines()
    if code != 0:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        fail(f"sbt build failed (exit {code}), log in {log}")
    cps = [l.strip() for l in lines if ".jar" in l and os.pathsep in l
           and not l.startswith("[")]
    if not cps:
        fail(f"sbt printed no classpath, log in {log}")
    with open(cp_file, "w") as fh:
        fh.write(cps[-1])
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return cps[-1], True


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True,
                    choices=["coverage", "resume", "suggest"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    t0 = time.monotonic()

    if not os.path.isdir(os.path.join(ENGINE_SRC, "graft")):
        fail("engine sources (src/main/scala/graft) not found next to perfbench/")
    env = dict(os.environ)
    env["SPARK_HOME"] = spark_home()
    env.setdefault("COURSIER_MODE", "offline")
    # Spark scratch stays in the checkout; the env var would override the
    # session's spark.local.dir
    env["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.makedirs(WORK, exist_ok=True)
    cp, built = build(env)

    java = os.path.join(env["JAVA_HOME"], "bin", "java") if env.get("JAVA_HOME") \
        else shutil.which("java")
    if not java or not os.path.exists(java):
        fail("java not found")
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    # -UsePerfData: no hsperfdata file in the system temp directory
    cmd = [java, "-Xms2g", "-Xmx2g", "-XX:ReservedCodeCacheSize=512m", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
           "-Dlog4j2.configurationFile=" + os.path.join(HERE, "log4j2.properties"),
           "-Dspark.sql.session.timeZone=UTC", *opens, "-cp", cp,
           "perfbench.Main", "--workload", a.workload, "--seed", str(a.seed),
           "--seconds", str(a.seconds), "--trace", str(a.trace),
           "--work", WORK]
    left = (BUILD_LIMIT_S if built else RUN_LIMIT_S) - (time.monotonic() - t0)
    try:
        _, code = run_group(cmd, left, cwd=ROOT, env=env, stdin=subprocess.DEVNULL)
    except subprocess.TimeoutExpired:
        fail(f"run exceeded {left:.0f} s and was stopped")
    sys.exit(code)


if __name__ == "__main__":
    main()
