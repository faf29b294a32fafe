#!/usr/bin/env python3
"""Build the engine and the benchmark from source, then run one workload.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
                             [--scale <f>] [--selftest]

Run from the root of a checkout. The first run compiles `src/main/scala`
and `perfbench/src` with the Scala compiler shipped in Spark's jars
(`$SPARK_HOME/jars`, or beside `spark-submit` on the PATH) into
`perfbench/.build`; later runs reuse it while the sources are unchanged.
Each run starts from an empty `perfbench/.work/<workload>` and writes only
there. The last stdout line is the JSON result; the exit code is non-zero
on any failure.
"""
import argparse
import glob
import hashlib
import os
import shutil
import subprocess
import sys

ROOT = os.getcwd()
BENCH = os.path.join(ROOT, "perfbench")
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
BUILD = os.path.join(BENCH, ".build")


def spark_jars():
    """`$SPARK_HOME/jars`, else the `jars` beside the first `spark-submit`
    on the PATH that has one."""
    if os.environ.get("SPARK_HOME"):
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    for d in os.environ.get("PATH", "").split(os.pathsep):
        jars = os.path.join(os.path.dirname(os.path.abspath(d)), "jars")
        if os.path.isfile(os.path.join(d, "spark-submit")) and os.path.isdir(jars):
            return jars
    return ""


JARS = spark_jars()
WORKLOADS = ("series_chain", "sym_stream", "corpus_dedup")
RUN_TIMEOUT_S = 175
BUILD_TIMEOUT_S = 800

# Spark on JDK 17 outside spark-submit (same list as the engine's build)
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def sources():
    engine = sorted(glob.glob(os.path.join(ENGINE_SRC, "**", "*.scala"), recursive=True))
    bench = sorted(glob.glob(os.path.join(BENCH, "src", "*.scala")))
    if not engine:
        fail(f"no engine sources under {ENGINE_SRC}; run from the root of a full checkout")
    if not bench:
        fail("no benchmark sources under perfbench/src")
    return engine + bench


def build():
    """Compile every source in one scalac pass unless the stamp matches."""
    srcs = sources()
    h = hashlib.sha256()
    for p in srcs:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    stamp = h.hexdigest()
    classes = os.path.join(BUILD, "classes")
    stamp_file = os.path.join(BUILD, "stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return classes
    if not os.path.isdir(JARS):
        fail(f"Spark jars not found at {JARS}")
    shutil.rmtree(BUILD, ignore_errors=True)
    os.makedirs(classes)
    args = ["java", "-XX:-UsePerfData", "-Xmx2g", "-Xss8m", "-cp", os.path.join(JARS, "*"),
            "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", classes]
    argfile = os.path.join(BUILD, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs))
    try:
        r = subprocess.run(args + ["@" + argfile], stdout=sys.stderr, timeout=BUILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        fail("build timed out")
    if r.returncode != 0:
        fail("build failed")
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return classes


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", choices=("0", "1"), default="0")
    ap.add_argument("--scale", type=float, default=1.0)
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args()

    classes = build()
    work = os.path.join(BENCH, ".work", a.workload)
    shutil.rmtree(work, ignore_errors=True)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    # -XX:-UsePerfData: no hsperfdata file outside the checkout
    cmd = (["java", "-XX:-UsePerfData", "-Xmx3g", "-Xss8m", f"-Djava.io.tmpdir={tmp}",
            "-Dspark.sql.session.timeZone=UTC", "-Dderby.system.home=" + tmp] + ADD_OPENS +
           ["-cp", classes + os.pathsep + os.path.join(JARS, "*"), "perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", a.trace, "--scale", str(a.scale), "--work", work] +
           (["--selftest"] if a.selftest else []))
    env = dict(os.environ, SPARK_LOCAL_IP="127.0.0.1")
    p = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True, env=env, cwd=work)
    try:
        out, _ = p.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        p.kill()
        p.wait()
        fail(f"run exceeded {RUN_TIMEOUT_S} s")
    sys.stdout.write(out)
    sys.stdout.flush()
    if p.returncode != 0:
        fail(f"benchmark exited with code {p.returncode}")
    last = out.strip().splitlines()[-1] if out.strip() else ""
    if not last.startswith("{"):
        fail("no result line")


if __name__ == "__main__":
    main()
