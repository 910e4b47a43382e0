#!/usr/bin/env python3
"""Run one benchmark workload against the library in this checkout.

    python3 omebench/run.py --workload ome --seed 1 --seconds 20 --trace 0

Run from the root of a checkout. The first run builds the library and the
benchmark from source with sbt (the build is reused while the sources are
unchanged), then one JVM generates the seeded inputs, times the workload for
`--seconds` seconds, checks every answer, and prints one JSON result as the
last line of standard output. Everything the run writes stays under
`.bench_build/omebench/` in the checkout.
"""
import argparse
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
BUILD = os.path.join(ROOT, ".bench_build", "omebench")
WORKLOADS = ("ome", "text_curation")
BUILD_TIMEOUT_S = 700
RUN_TIMEOUT_S = 170

# The module opens Spark needs on JDK 17 when it is started outside
# spark-submit (org.apache.spark.launcher.JavaModuleOptions).
OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print("omebench: " + msg, file=sys.stderr)
    sys.exit(2)


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home or "", "jars")
    if not os.path.isdir(jars):
        fail("no Spark installation found (set SPARK_HOME)")
    return jars


def source_stamp():
    """Hash of every input of the build, so an edited tree rebuilds."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
             os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def classpath(jars):
    """Build with sbt when the sources changed; return the runtime classpath."""
    stamp_file = os.path.join(BUILD, "stamp")
    cp_file = os.path.join(BUILD, "classpath")
    stamp = source_stamp()
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read()
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ, OMEBENCH_SPARK_JARS=jars)
    try:
        out = subprocess.run(
            ["sbt", "-batch", "-Dsbt.log.noformat=true",
             "export Runtime/fullClasspath"],
            cwd=HERE, env=env, stdout=subprocess.PIPE, stdin=subprocess.DEVNULL,
            timeout=BUILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        fail("build timed out")
    lines = out.stdout.decode(errors="replace").strip().splitlines()
    if out.returncode != 0 or not lines:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        fail("build failed")
    cp = lines[-1].strip()
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail("run from the root of a checkout of the library "
             "(src/main/scala/graft is missing)")
    cp = classpath(spark_jars())
    work = os.path.join(BUILD, "work", "%s-%d-%d" % (
        args.workload, args.seed, os.getpid()))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    # The 1 GB heap is reserved but not pre-touched, so the peak RSS follows
    # what the run keeps in the old generation (caches, storage) and in
    # native memory. The young generation is pinned at 512 MB and malloc
    # at two arenas, so neither adds run-to-run noise to that figure.
    cmd = (["java", "-Xms1g", "-Xmx1g", "-Xmn512m", "-XX:+UseG1GC",
            "-Djava.io.tmpdir=" + tmp,
            "-Dlog4j2.configurationFile=" + os.path.join(HERE, "log4j2.properties"),
            "-Dspark.ui.enabled=false"]
           + [a for p in OPENS for a in ("--add-opens", p + "=ALL-UNNAMED")]
           + ["-cp", cp, "omebench.Main",
              "--workload", args.workload, "--seed", str(args.seed),
              "--seconds", str(args.seconds), "--trace", str(args.trace),
              "--work", work,
              "--trace-out", os.path.join(BUILD, "traces")])
    proc = subprocess.Popen(cmd, stdin=subprocess.DEVNULL,
                            env=dict(os.environ, MALLOC_ARENA_MAX="2"))
    try:
        code = proc.wait(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        code = 3
        print("omebench: run timed out", file=sys.stderr)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    sys.exit(code)


if __name__ == "__main__":
    main()
