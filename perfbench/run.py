#!/usr/bin/env python3
"""graft pipeline benchmark.

Runs one workload (dedup_funnel, lake_card) as a closed
loop with one client for --seconds and prints, as its last stdout line,
{"correct", "attempted", "failed", "metrics"}: the end-to-end metrics
with --trace 0, the per-layer metrics with --trace 1. The line before it
starts with "report " and carries the details behind those figures.

Usage:
  python3 perfbench/run.py --workload dedup_funnel --seed 1 --seconds 15 --trace 0

Builds graft and the benchmark from source on first use (perfbench/build.py)
and keeps everything it writes under .bench_build/ in the repository root:
classes, the per-seed input cache, span traces, logs and per-run scratch.
"""

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

WORKLOADS = ("dedup_funnel", "lake_card")
# a run must finish within this many seconds once the build is done
RUN_LIMIT_S = 175

# Spark on JDK 17 outside spark-submit needs these (the repository's
# build.sbt passes the same list to forked runs).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def main():
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", required=True, type=int)
    p.add_argument("--seconds", required=True, type=float)
    p.add_argument("--trace", required=True, choices=("0", "1"))
    p.add_argument("--corrupt-expected", action="store_true",
                   help="perturb every expected result (the checks must fail)")
    a = p.parse_args()

    try:
        classes = build.classes()
        jars = build.spark_jars()
        stamp = build.input_stamp()
    except build.BuildError as e:
        print("build failed: %s" % e, file=sys.stderr)
        return 2
    started = time.monotonic()

    out = build.build_dir()
    run_dir = os.path.join(out, "run", str(os.getpid()))
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(run_dir, "tmp"))
    os.makedirs(os.path.join(out, "traces"), exist_ok=True)
    os.makedirs(os.path.join(out, "logs"), exist_ok=True)
    log_path = os.path.join(out, "logs", "%s-%d-trace%s.log" % (a.workload, a.seed, a.trace))

    cmd = ["java", "-Xmx3g", "-Xss8m"]
    for m in ADD_OPENS:
        cmd += ["--add-opens", m + "=ALL-UNNAMED"]
    cmd += [
        "-Djava.io.tmpdir=" + os.path.join(run_dir, "tmp"),
        "-Dderby.system.home=" + run_dir,
        "-Dlog4j2.configurationFile=" + os.path.join(build.HERE, "log4j2.properties"),
        "-Dspark.ui.enabled=false",
        "-cp", classes + os.pathsep + os.path.join(jars, "*"),
        "graftbench.Main",
        "--workload", a.workload, "--seed", str(a.seed),
        "--seconds", str(a.seconds), "--trace", a.trace,
        "--work", run_dir,
        # generated inputs are cached per seed and per version of the
        # benchmark's sources: a changed generator never reads old inputs
        "--inputs", os.path.join(out, "inputs", stamp[:16]),
        "--traces", os.path.join(out, "traces"),
    ]
    if a.corrupt_expected:
        cmd.append("--corrupt-expected")

    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(run_dir, "spark-local"))
    lines = []
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, cwd=run_dir, stdout=subprocess.PIPE, stderr=log,
                                text=True, env=env, start_new_session=True)

        def stop(signum, _frame):
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            shutil.rmtree(run_dir, ignore_errors=True)
            sys.exit(128 + signum)

        signal.signal(signal.SIGTERM, stop)
        signal.signal(signal.SIGINT, stop)
        try:
            out_text, _ = proc.communicate(
                timeout=max(10.0, RUN_LIMIT_S - (time.monotonic() - started)))
            lines = [l for l in out_text.splitlines() if l.strip()]
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            shutil.rmtree(run_dir, ignore_errors=True)
            print("run timed out; log: %s" % log_path, file=sys.stderr)
            return 3
        finally:
            if proc.poll() is None:
                os.killpg(proc.pid, signal.SIGKILL)
                proc.wait()
    shutil.rmtree(run_dir, ignore_errors=True)

    result = None
    if proc.returncode == 0 and lines:
        try:
            result = json.loads(lines[-1])
        except ValueError:
            result = None
    if result is None or set(result) != {"correct", "attempted", "failed", "metrics"}:
        print("benchmark JVM failed (exit %s); log: %s" % (proc.returncode, log_path),
              file=sys.stderr)
        with open(log_path) as f:
            sys.stderr.write(f.read()[-3000:])
        return 4
    for l in lines[:-1]:
        print(l)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
