#!/usr/bin/env python3
"""Benchmark launcher for graft.

Usage (from the root of a checkout):

    python3 perfbench/run.py --workload etl_star --seed 1 --seconds 15 --trace 0

Builds the program and the harness from the checkout's sources with sbt
on first use (the classpath is cached under perfbench/target and rebuilt
when a source file is newer), then runs one workload in its own JVM and
relays its output. The last line of standard output is one JSON object:
{"correct", "attempted", "failed", "metrics"}. See perfbench/README.md.
"""
import argparse
import os
import shutil
import subprocess
import sys
import threading

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
TARGET = os.path.join(HERE, "target")
CLASSPATH_FILE = os.path.join(TARGET, "bench.classpath")
WORKLOADS = ("etl_star", "artifact_cycle")
# a run (after the one-off build) must end well inside three minutes
RUN_DEADLINE_S = 170
BUILD_DEADLINE_S = 850

# Spark on JDK 17 needs these outside spark-submit; same list as the
# program's own build.sbt (JavaModuleOptions.defaultModuleOptions()).
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def newest_source_mtime():
    newest = 0.0
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
             os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for r in roots:
        if os.path.isfile(r):
            newest = max(newest, os.path.getmtime(r))
            continue
        for d, _, files in os.walk(r):
            for f in files:
                newest = max(newest, os.path.getmtime(os.path.join(d, f)))
    return newest


def sbt_env():
    env = dict(os.environ)
    env["COURSIER_MODE"] = "offline"
    opts = ["-Dsbt.offline=true", "-Dsbt.server.forcestart=false",
            "-Xmx2g", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={os.path.join(TARGET, 'tmp')}"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.isfile(repos):
        opts += ["-Dsbt.override.build.repos=true",
                 f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts + [env.get("SBT_OPTS", "")]).strip()
    return env


def build():
    if shutil.which("sbt") is None:
        fail("sbt is not on PATH")
    os.makedirs(os.path.join(TARGET, "tmp"), exist_ok=True)
    log_path = os.path.join(TARGET, "build.log")
    with open(log_path, "w") as log:
        proc = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
             "export Runtime/fullClasspath"],
            cwd=HERE, env=sbt_env(), stdout=subprocess.PIPE, stderr=log,
            text=True, timeout=BUILD_DEADLINE_S)
        log.write(proc.stdout)
    lines = [ln for ln in proc.stdout.splitlines() if ln.strip()]
    if proc.returncode != 0 or not lines or lines[-1].startswith("["):
        fail(f"build failed (see {os.path.relpath(log_path, ROOT)})")
    with open(CLASSPATH_FILE, "w") as f:
        f.write(lines[-1].strip())


def classpath():
    stale = (not os.path.isfile(CLASSPATH_FILE)
             or os.path.getmtime(CLASSPATH_FILE) < newest_source_mtime())
    if stale:
        build()
    with open(CLASSPATH_FILE) as f:
        return f.read().strip()


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    # writes the expected digests (refs.tsv) instead of checking them
    ap.add_argument("--record", action="store_true", help=argparse.SUPPRESS)
    args = ap.parse_args()

    if not os.path.isfile(os.path.join(ROOT, "build.sbt")) or \
            not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail("the graft sources are missing next to perfbench/")
    data = os.path.join(HERE, "data")
    if not os.path.isdir(os.path.join(data, "sf0.1")):
        fail("perfbench/data is missing")

    cp = classpath()
    work = os.path.join(TARGET, "work", f"{args.workload}-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cores = len(os.sched_getaffinity(0))
    cmd = ["java"]
    cmd += [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in ADD_OPENS]
    cmd += ["-Xmx4g", "-XX:+UseG1GC", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={tmp}",
            f"-Dderby.system.home={work}", "-cp", cp, "graftbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--cores", str(cores), "--data", data, "--work", work,
            "--refs", os.path.join(HERE, "refs.tsv"),
            "--out", os.path.join(TARGET, "traces"),
            "--record", "1" if args.record else "0"]
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
    proc = subprocess.Popen(cmd, cwd=ROOT, env=env, stdout=subprocess.PIPE,
                            text=True)
    watchdog = threading.Timer(
        BUILD_DEADLINE_S if args.record else RUN_DEADLINE_S, proc.kill)
    watchdog.start()
    result = None
    try:
        for line in proc.stdout:
            line = line.rstrip("\n")
            if line.startswith("{\"correct\""):
                result = line
            else:
                print(line, flush=True)
        proc.wait()
    finally:
        watchdog.cancel()
        if proc.poll() is None:
            proc.kill()
            proc.wait()
        shutil.rmtree(work, ignore_errors=True)
    if args.record and proc.returncode == 0:
        return
    if proc.returncode != 0 or result is None:
        fail(f"benchmark JVM exited with code {proc.returncode}")
    print(result, flush=True)


if __name__ == "__main__":
    main()
