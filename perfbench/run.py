#!/usr/bin/env python3
"""Run one graft benchmark workload and print its result.

    python3 perfbench/run.py --workload jmx_poll --seed 1 --seconds 10 --trace 0

Builds graft and the benchmark (perfbench/build.sh) when their sources
changed, runs the workload in one JVM with Spark local[nproc], relays
its report, removes the run's temp root and prints, as the last line,
one JSON object: {"correct", "attempted", "failed", "metrics"}. Exits 0
only when every output check passed and the temp root was removed.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import tempfile
import threading
import time

sys.dont_write_bytecode = True

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
WORKLOADS = ("jmx_poll", "jmx_backfill", "dedup_corpus")
RESULT = "PERFBENCH_RESULT "
# a run must end within 180 s; the first one in a checkout may also build
RUN_LIMIT_S = 170
BUILD_LIMIT_S = 700

# what spark-submit adds on JDK 17 (JavaModuleOptions.defaultModuleOptions)
OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
         "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
         "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


def java_bin():
    home = os.environ.get("JAVA_HOME")
    return os.path.join(home, "bin", "java") if home else "java"


def run_group(cmd, deadline, on_line=None, **kw):
    """Run cmd in its own process group; kill the group at the deadline
    and wait for it. Returns (exit code, timed out)."""
    proc = subprocess.Popen(cmd, start_new_session=True, text=True, **kw)
    timer = threading.Timer(max(1.0, deadline - time.monotonic()),
                            lambda: os.killpg(proc.pid, 9))
    timer.start()
    try:
        if on_line:
            for line in proc.stdout:
                on_line(line.rstrip("\n"))
        proc.wait()
    finally:
        timer.cancel()
        if proc.poll() is None:
            os.killpg(proc.pid, 9)
            proc.wait()
    return proc.returncode, time.monotonic() >= deadline


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", choices=("full", "tiny"), default="full",
                    help="tiny: smoke-test input sizes")
    ap.add_argument("--gen-only", metavar="DIR",
                    help="only write every workload's inputs for the seed into DIR")
    a = ap.parse_args()
    start = time.monotonic()
    # a terminated run still stops its JVM (run_group's finally kills the group)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        sys.exit("perfbench: graft's sources (src/main/scala) are not in this checkout")
    if not os.environ.get("SPARK_HOME"):
        sys.exit("perfbench: SPARK_HOME must name a Spark 4.x install")
    os.makedirs(BUILD, exist_ok=True)
    code, _ = run_group(["bash", os.path.join(HERE, "build.sh")], start + BUILD_LIMIT_S)
    if code != 0:
        sys.exit(f"perfbench: build failed ({code})")

    jars = os.path.join(os.environ["SPARK_HOME"], "jars", "*")
    run_root = tempfile.mkdtemp(prefix="run-", dir=BUILD)
    tmp = os.path.join(run_root, "tmp")
    os.makedirs(tmp)
    cmd = [java_bin(), "-Xms3g", "-Xmx3g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
           "-Duser.language=en", "-Duser.country=US"]
    for p in OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += ["-cp", os.path.join(BUILD, "classes") + os.pathsep + jars, "perfbench.Main",
            "--seed", str(a.seed), "--scale", a.scale]
    if a.gen_only:
        cmd += ["--gen-only", os.path.abspath(a.gen_only)]
    else:
        cmd += ["--workload", a.workload, "--seconds", str(a.seconds), "--trace", str(a.trace),
                "--root", run_root]
        if a.trace:
            traces = os.path.join(BUILD, "traces")
            os.makedirs(traces, exist_ok=True)
            cmd += ["--spans-out", os.path.join(traces, f"{a.workload}-seed{a.seed}.json")]
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(run_root, "spark-local"))

    result = None

    def on_line(line):
        nonlocal result
        if line.startswith(RESULT):
            result = json.loads(line[len(RESULT):])
        else:
            print(line, flush=True)

    log_path = os.path.join(BUILD, "last-run.log")
    with open(log_path, "w") as log:
        code, timed_out = run_group(cmd, start + RUN_LIMIT_S, on_line, env=env,
                                    stdout=subprocess.PIPE, stderr=log)

    cleanup_errors = []
    shutil.rmtree(run_root, onerror=lambda fn, path, exc: cleanup_errors.append((path, exc[1])))
    for path, err in cleanup_errors:
        print(f"cleanup error: {path}: {err}", flush=True)

    if a.gen_only:
        sys.exit(code)
    if result is None:
        with open(log_path) as log:
            tail = log.readlines()[-40:]
        print("".join(tail), file=sys.stderr)
        sys.exit(f"perfbench: {a.workload} gave no result (exit {code}"
                 f"{', killed at the time limit' if timed_out else ''}); JVM log: {log_path}")
    if cleanup_errors:
        result["attempted"] += 1
        result["failed"] += 1
        result["correct"] = False
    print(json.dumps(result), flush=True)
    sys.exit(0 if result["correct"] and code == 0 else 1)


if __name__ == "__main__":
    main()
