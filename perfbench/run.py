#!/usr/bin/env python3
"""graft benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The first run builds the harness and
graft's library sources with sbt (perfbench/build.sbt); later runs
reuse the build until a source file changes. The harness then runs in
one JVM on local[<cores>] and prints its result JSON as the last line
of standard output. Workloads: pretrain_curate, cdc_etl (see
perfbench/README.md).
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
TARGET = os.path.join(HERE, "target")
CLASSPATH_FILE = os.path.join(TARGET, "harness-classpath.txt")
WORKLOADS = ("pretrain_curate", "cdc_etl")
RUN_LIMIT_S = 175      # a measured run must end within this many seconds
BUILD_LIMIT_S = 840    # the first run of a checkout may also build

# Spark 4 on JDK 17 outside spark-submit needs these opens (the same
# list as the repository's build.sbt).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def sources():
    """Every file the build compiles or configures."""
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
                os.path.join(HERE, "project")):
        for d, _, files in os.walk(top):
            for f in files:
                yield os.path.join(d, f)
    yield os.path.join(HERE, "build.sbt")


def build_if_stale(deadline):
    """Returns the runtime classpath and whether this call built it."""
    if os.path.exists(CLASSPATH_FILE):
        stamp = os.path.getmtime(CLASSPATH_FILE)
        if all(os.path.getmtime(f) <= stamp for f in sources()):
            with open(CLASSPATH_FILE) as f:
                return f.read().strip(), False
    log("building harness and graft sources with sbt")
    tmp = os.path.join(TARGET, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # every JVM the sbt script starts keeps its temp files in the checkout
    env = dict(os.environ, JAVA_TOOL_OPTIONS=f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}")
    cmd = ["sbt", "-batch", "-Dsbt.server.autostart=false", "compile",
           "export Runtime/fullClasspath"]
    out = run_child(cmd, HERE, deadline, env)
    cp = [l for l in out.splitlines() if ".jar" in l and os.pathsep in l]
    if not cp:
        sys.exit("perfbench: sbt did not print a runtime classpath")
    os.makedirs(TARGET, exist_ok=True)
    with open(CLASSPATH_FILE, "w") as f:
        f.write(cp[-1].strip())
    return cp[-1].strip(), True


def run_child(cmd, cwd, deadline, env=None):
    """Run `cmd` in its own process group, returning its stdout; kill the
    group at `deadline`."""
    proc = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=subprocess.PIPE,
                            stdin=subprocess.DEVNULL, text=True, start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=max(1.0, deadline - time.monotonic()))
    except subprocess.TimeoutExpired:
        log(f"{cmd[0]} exceeded its time limit; stopping it")
        kill_group(proc)
        sys.exit(3)
    except BaseException:
        kill_group(proc)
        raise
    if proc.returncode != 0:
        if out:
            sys.stderr.write(out)
        sys.exit(f"perfbench: {cmd[0]} exited with {proc.returncode}")
    return out


def kill_group(proc):
    try:
        os.killpg(proc.pid, signal.SIGKILL)
    except ProcessLookupError:
        pass
    proc.wait()


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    args = ap.parse_args()

    start = time.monotonic()
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        sys.exit("perfbench: graft's sources (src/main/scala/graft) are not in this "
                 "checkout; run from the repository root")
    cp, built = build_if_stale(start + BUILD_LIMIT_S)
    limit = BUILD_LIMIT_S + 60 if built else RUN_LIMIT_S
    work = os.path.join(TARGET, "work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if "JAVA_HOME" in os.environ else "java"
    cmd = [java, *[a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")],
           "-Xmx3g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
           "-cp", cp, "perfbench.Main",
           "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", args.trace,
           "--work", work, "--root", ROOT]
    try:
        out = run_child(cmd, ROOT, start + limit)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    lines = [l for l in out.splitlines() if l.strip()]
    try:
        result = json.loads(lines[-1])
    except (IndexError, ValueError):
        sys.exit("perfbench: the harness printed no result line")
    sys.stdout.write(out)
    sys.stdout.flush()
    if not result.get("correct"):
        log("output checks failed; see the messages above")


if __name__ == "__main__":
    main()
