#!/usr/bin/env python3
"""Benchmark of the Spark rebuild of the Harvard Artifacts pipeline.

Usage (from the root of a checkout):

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Workloads: artifact_app, curation (see README.md).
The first run in a checkout builds the harness with sbt (library sources
plus perfbench/src) and caches the classpath; later runs launch the JVM
directly. Each run gets its own java.io.tmpdir and Spark local directory
under perfbench/.work/, removed when the run ends, so no offline artifact
or stamp carries over between runs.

The last line of standard output is one JSON object with the keys
correct, attempted, failed and metrics. --trace 0 reports the end-to-end
metrics, --trace 1 the per-layer metrics of a traced run.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

import checks
import metrics

HERE = os.path.dirname(os.path.abspath(__file__))
WORKLOADS = ("artifact_app", "curation")
JVM_TIMEOUT_S = 165
BUILD_TIMEOUT_S = 850
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


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
        fail("no Spark install found (set SPARK_HOME)")
    return home


def source_stamp(root):
    """Hash of every input of the build, so a changed tree rebuilds."""
    h = hashlib.sha256()
    dirs = [os.path.join(root, "src", "main", "scala"), os.path.join(HERE, "src")]
    files = [os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for d in dirs:
        for base, _, names in os.walk(d):
            files += [os.path.join(base, n) for n in names if n.endswith(".scala")]
    for f in sorted(files):
        h.update(os.path.relpath(f, root).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def classpath(root):
    """Build the harness if its inputs changed; return the JVM classpath."""
    if not os.path.isdir(os.path.join(root, "src", "main", "scala", "graft")):
        fail("run from the root of a checkout: src/main/scala/graft not found")
    stamp = source_stamp(root)
    cache = os.path.join(HERE, "target", "bench-classpath.txt")
    if os.path.exists(cache):
        with open(cache) as fh:
            lines = fh.read().splitlines()
        if len(lines) == 2 and lines[0] == stamp:
            return lines[1]
    env = dict(os.environ, SPARK_HOME=spark_home())
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.forcestart=false",
           "compile", "export Runtime/fullClasspath"]
    proc = subprocess.run(cmd, cwd=HERE, env=env, capture_output=True, text=True,
                          timeout=BUILD_TIMEOUT_S, stdin=subprocess.DEVNULL)
    if proc.returncode != 0:
        sys.stderr.write(proc.stdout[-4000:] + proc.stderr[-4000:])
        fail("build failed")
    cp = [l for l in proc.stdout.splitlines() if ".jar" in l and not l.startswith("[")]
    if not cp:
        fail("build printed no classpath")
    os.makedirs(os.path.dirname(cache), exist_ok=True)
    with open(cache, "w") as fh:
        fh.write(stamp + "\n" + cp[-1].strip() + "\n")
    return cp[-1].strip()


def run_jvm(cp, args, work, cores):
    out = os.path.join(work, "result.json")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    cmd = (["java"] + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-Xmx3g", "-XX:ReservedCodeCacheSize=512m",
              f"-Djava.io.tmpdir={tmp}",
              f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
              "-Dspark.ui.enabled=false", "-cp", cp, "perfbench.Main",
              "--workload", args.workload, "--seed", str(args.seed),
              "--seconds", str(args.seconds), "--trace", str(args.trace),
              "--cores", str(cores), "--work", work, "--out", out])
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
    proc = subprocess.Popen(cmd, stdout=sys.stderr, stderr=sys.stderr, env=env,
                            stdin=subprocess.DEVNULL, start_new_session=True)
    try:
        code = proc.wait(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        fail(f"harness JVM exceeded {JVM_TIMEOUT_S} s")
    if code != 0 or not os.path.exists(out):
        fail(f"harness JVM exited with code {code}")
    with open(out) as fh:
        return json.load(fh)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--keep-result", help="copy the raw harness result here")
    args = ap.parse_args()
    root = os.getcwd()
    cp = classpath(root)
    cores = len(os.sched_getaffinity(0))
    work = os.path.join(HERE, ".work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        t0 = time.time()
        res = run_jvm(cp, args, work, cores)
        t1 = time.time()
        check = checks.run(res, work)
        if args.keep_result:
            with open(args.keep_result, "w") as fh:
                json.dump(dict(res, check=check), fh)
        report = metrics.compute(res, check, trace=bool(args.trace))
        print(f"perfbench: {args.workload} seed {args.seed} on {cores} cores, "
              f"wall {time.time() - t0:.1f} s (checks {time.time() - t1:.1f} s)",
              file=sys.stderr)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    for line in report["lines"]:
        print(line)
    print(json.dumps(report["result"]))


if __name__ == "__main__":
    main()
