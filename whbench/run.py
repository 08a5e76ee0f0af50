#!/usr/bin/env python3
"""Warehouse benchmark: one workload, one seed, one JSON result line.

    python3 whbench/run.py --workload warehouse|curation --seed N \
        --seconds S --trace 0|1

Builds the repository's main sources together with the benchmark (sbt,
offline; rebuilt only when a source changes), then runs one JVM with one
client thread on local[4]. The last line of standard output is the result:
{"correct", "attempted", "failed", "metrics"}; with --trace 0 the metrics
are the end-to-end ones, with --trace 1 the per-layer ones. Everything the
run writes stays under whbench/.work. See whbench/README.md.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
WORK = os.path.join(BENCH, ".work")
CLASSES = os.path.join(BENCH, "target", "scala-2.13", "classes")
WORKLOADS = ("warehouse", "curation")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 700
HEAP = "4g"
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"whbench: {msg}", file=sys.stderr)
    sys.exit(1)


def sources():
    """Every file the build reads, in a stable order."""
    out = [os.path.join(BENCH, "build.sbt"), os.path.join(BENCH, "project", "build.properties")]
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src", "main")):
        for d, _, fs in sorted(os.walk(top)):
            out += [os.path.join(d, f) for f in sorted(fs)]
    return out


def stamp():
    h = hashlib.sha256()
    for p in sources():
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def spark_home():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        fail("no Spark installation: set SPARK_HOME")
    return home


def build(home):
    want = stamp()
    stamp_file = os.path.join(WORK, "build.stamp")
    if os.path.isdir(CLASSES) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == want:
                return
    env = dict(os.environ, SPARK_HOME=home, COURSIER_MODE="offline")
    opts = env.get("SBT_OPTS", "")
    if "sbt.offline" not in opts:
        opts += " -Dsbt.offline=true"
    env["SBT_OPTS"] = f"{opts} -Djava.io.tmpdir={os.path.join(WORK, 'tmp')}".strip()
    log = os.path.join(WORK, "build.log")
    with open(log, "w") as f:
        try:
            rc = subprocess.run(["sbt", "-batch", "-Dsbt.log.noformat=true", "compile"],
                                cwd=BENCH, env=env, stdout=f, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL, timeout=BUILD_TIMEOUT_S).returncode
        except (OSError, subprocess.TimeoutExpired) as e:
            fail(f"build did not finish: {e}")
    if rc != 0:
        with open(log) as f:
            sys.stderr.write("".join(f.readlines()[-30:]))
        fail(f"build failed (exit {rc}), see {log}")
    with open(stamp_file, "w") as f:
        f.write(want)


def run_jvm(home, args, result, deadline):
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    cmd = [java, f"-Xmx{HEAP}", "-XX:+UseParallelGC", *opens,
           f"-Djava.io.tmpdir={os.path.join(WORK, 'tmp')}",
           f"-Dlog4j2.configurationFile={os.path.join(BENCH, 'log4j2.properties')}",
           "-cp", f"{CLASSES}{os.pathsep}{os.path.join(home, 'jars', '*')}",
           "whbench.Main",
           "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", str(args.trace),
           "--base", os.path.join(BENCH, "corpus", "sf0.1"),
           "--work", WORK,
           "--goldens", os.path.join(BENCH, "goldens.tsv"),
           "--result", result]
    log = os.path.join(WORK, "logs", f"{args.workload}-s{args.seed}-t{args.trace}.log")
    os.makedirs(os.path.dirname(log), exist_ok=True)
    with open(log, "w") as f:
        proc = subprocess.Popen(cmd, cwd=ROOT, stdout=f, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL)
        try:
            rc = proc.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            fail(f"run exceeded its time limit, see {log}")
    if rc != 0 or not os.path.exists(result):
        with open(log) as f:
            sys.stderr.write("".join(f.readlines()[-30:]))
        fail(f"benchmark JVM failed (exit {rc}), see {log}")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    args = ap.parse_args()
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail(f"no repository sources next to the benchmark in {ROOT}")
    os.makedirs(os.path.join(WORK, "tmp"), exist_ok=True)
    home = spark_home()
    build(home)
    result = os.path.join(WORK, f"result-{args.workload}-s{args.seed}-t{args.trace}.json")
    if os.path.exists(result):
        os.remove(result)
    run_jvm(home, args, result, time.time() + RUN_TIMEOUT_S)
    with open(result) as f:
        r = json.load(f)
    info = r["info"]
    print(f"workload {info['workload']} seed {info['seed']} on local[{info['cores']}]: "
          f"{info['input_rows']} input rows ({info['copies']}x sf0.1), "
          f"{len(info['iterations'])} timed pass(es), {info['samples']} calls, "
          f"median call {info['op_p50_s']:.3f} s, corpus generation {info['corpus_gen_s']:.2f} s")
    for line in info["failures"]:
        print(f"FAILED {line}")
    print(json.dumps({k: r[k] for k in ("correct", "attempted", "failed", "metrics")}))


if __name__ == "__main__":
    main()
