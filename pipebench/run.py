#!/usr/bin/env python3
"""Closed-loop pipeline benchmark: build the program and the harness from
source, run one workload in its own JVM, print one JSON result line.

    python3 pipebench/run.py --workload live|log_live \
        --seed N --seconds S --trace 0|1 [--corrupt 1]

Run from the repository root. The build (scalac over src/main/scala and
pipebench/src, against the Spark jars) lands in pipebench/target and is
reused while the sources are unchanged. Traces go to pipebench/out.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
TARGET = os.path.join(HERE, "target")
CLASSES = os.path.join(TARGET, "classes")
STAMP = os.path.join(TARGET, "stamp")

RUN_TIMEOUT_S = 170
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]
KEYS = {"correct", "attempted", "failed", "metrics"}


def fail(msg):
    print(f"pipebench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_jars():
    """The Spark distribution's jars: $SPARK_HOME/jars, else the jars next to
    a Spark bin directory on PATH."""
    homes = [os.environ.get("SPARK_HOME", "")] + [
        os.path.dirname(d) for d in os.environ.get("PATH", "").split(os.pathsep)]
    for h in homes:
        jars = os.path.join(h, "jars")
        if h and glob.glob(os.path.join(jars, "spark-core_*.jar")):
            return jars
    fail("no Spark distribution found (set SPARK_HOME)")


def sources():
    main = sorted(glob.glob("src/main/scala/**/*.scala", recursive=True))
    if not main:
        fail("no program sources under src/main/scala (run from the repository root)")
    own = sorted(glob.glob(os.path.join(HERE, "src", "**", "*.scala"), recursive=True))
    res = sorted(p for p in glob.glob("src/main/resources/**", recursive=True) if os.path.isfile(p))
    return main + own, res


def build():
    """Compile when the sources differ from the last build's."""
    scala, resources = sources()
    h = hashlib.sha256()
    for p in scala + resources:
        h.update(p.encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    digest = h.hexdigest()
    if os.path.exists(STAMP) and open(STAMP).read() == digest:
        return
    if os.path.exists(STAMP):
        os.remove(STAMP)
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.makedirs(CLASSES)
    jars = sorted(glob.glob(os.path.join(spark_jars(), "*.jar")))
    compiler = [j for j in jars if os.path.basename(j).startswith(
        ("scala-compiler-", "scala-library-", "scala-reflect-"))]
    if len(compiler) != 3:
        fail("scala compiler jars not found in the Spark distribution")
    argfile = os.path.join(TARGET, "scalac.args")
    with open(argfile, "w") as f:
        f.write("-nowarn\n-classpath\n" + os.pathsep.join(jars) + "\n-d\n" + CLASSES + "\n")
        f.write("\n".join(scala) + "\n")
    t0 = time.time()
    r = subprocess.run(["java", "-Xss8m", "-Xmx3g", "-cp", os.pathsep.join(compiler),
                        "scala.tools.nsc.Main", "@" + argfile], stdout=sys.stderr)
    if r.returncode != 0:
        fail("compilation failed")
    for p in resources:
        dst = os.path.join(CLASSES, os.path.relpath(p, "src/main/resources"))
        os.makedirs(os.path.dirname(dst), exist_ok=True)
        shutil.copyfile(p, dst)
    with open(STAMP, "w") as f:
        f.write(digest)
    print(f"pipebench: built in {time.time() - t0:.1f} s", file=sys.stderr)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=["live", "log_live"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, default=0, choices=[0, 1])
    ap.add_argument("--corrupt", type=int, default=0, choices=[0, 1])
    a = ap.parse_args()

    build()
    root = os.path.join(HERE, "out", f"run-{os.getpid()}")
    shutil.rmtree(root, ignore_errors=True)
    # Spark's scratch space and the JVM's temp files stay inside the run root
    tmp, local = os.path.join(root, "tmp"), os.path.join(root, "local")
    os.makedirs(tmp)
    os.makedirs(local)
    # a 1 GB heap (Spark's default spark.driver.memory), committed and
    # touched at start so page faults and heap growth stay out of the timings
    cmd = (["java", "-Xms1g", "-Xmx1g", "-XX:+AlwaysPreTouch"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
              f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={local}",
              "-cp", CLASSES + os.pathsep + os.path.join(spark_jars(), "*"),
              "graft.pipebench.Main",
              "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
              "--trace", str(a.trace), "--corrupt", str(a.corrupt), "--cpus", str(len(os.sched_getaffinity(0))),
              "--root", root, "--out", os.path.join(HERE, "out"),
              "--t0-ms", str(int(time.time() * 1000))])
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True,
                            env=dict(os.environ, SPARK_LOCAL_DIRS=local))
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        shutil.rmtree(root, ignore_errors=True)
        fail(f"run exceeded {RUN_TIMEOUT_S} s")
    shutil.rmtree(root, ignore_errors=True)
    lines = [l for l in out.splitlines() if l.strip()]
    if proc.returncode != 0 or not lines:
        fail(f"harness exited with {proc.returncode}")
    result = json.loads(lines[-1])
    if set(result) != KEYS:
        fail(f"malformed result: {lines[-1]}")
    print(json.dumps(result))


if __name__ == "__main__":
    main()
