#!/usr/bin/env python3
"""Run one benchmark workload against the engine's public entry points.

    python3 perfbench/run.py --workload ingest|serve|curate --seed N \
        --seconds S --trace 0|1

Builds the engine and the harness from source (once per checkout), runs the
workload in a fresh JVM with a private scratch root inside the checkout, and
prints the result as one JSON object on the last line of standard output.
Exits nonzero, without a result line, if the build or the run fails; exits
nonzero after the result line if an output check or an input self-check
failed (`"correct": false`).
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import threading
import time
import uuid

sys.dont_write_bytecode = True  # leave no __pycache__ in the checkout
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

WORKLOADS = ("ingest", "serve", "curate")
RESULT_PREFIX = "PERFBENCH_RESULT "
RUN_LIMIT_S = 170  # the whole run, build excluded, must end within this

# Spark 4 on JDK 17 outside spark-submit (same list as build.sbt).
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
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    t0 = time.monotonic()
    # a terminated run still stops its JVM and removes its scratch root
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    classes = build.build()
    t_build = time.monotonic()
    jars = build.spark_jars()
    scratch = os.path.join(build.build_dir(),
                           "run-%d-%s" % (os.getpid(), uuid.uuid4().hex[:8]))
    os.makedirs(os.path.join(scratch, "tmp"))
    cmd = ["java", "-Xms2g", "-Xmx2g", "-Xss8m", "-XX:+UseParallelGC",
           "-Djava.io.tmpdir=" + os.path.join(scratch, "tmp"),
           "-Dspark.ui.enabled=false"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", p + "=ALL-UNNAMED"]
    cmd += ["-cp", classes + os.pathsep + os.path.join(jars, "*"),
            "graft.perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--scratch", scratch,
            "--trace-out", os.path.join(build.build_dir(), "traces")]
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(scratch, "local"))
    result = None
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, env=env, text=True,
                            start_new_session=True)
    timed_out = threading.Event()

    def kill():
        timed_out.set()
        os.killpg(proc.pid, signal.SIGKILL)

    watchdog = threading.Timer(RUN_LIMIT_S, kill)
    watchdog.start()
    try:
        for line in proc.stdout:
            if line.startswith(RESULT_PREFIX):
                result = json.loads(line[len(RESULT_PREFIX):])
            else:
                sys.stdout.write(line)
                sys.stdout.flush()
        proc.wait()
    finally:
        watchdog.cancel()
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        shutil.rmtree(scratch, ignore_errors=True)
    print("perfbench: build %.1f s, run %.1f s" % (t_build - t0, time.monotonic() - t_build),
          file=sys.stderr)
    if timed_out.is_set():
        print("perfbench: run exceeded %d s" % RUN_LIMIT_S, file=sys.stderr)
        result = None
    if proc.returncode != 0 or result is None:
        print("perfbench: run failed (exit %s)" % proc.returncode, file=sys.stderr)
        sys.exit(1)
    print(json.dumps(shape(result, a.trace)))
    sys.exit(0 if result["correct"] else 1)


def shape(result, trace):
    """Name every metric BENCHMARK.json lists for the mode, with its unit.
    A per-layer metric the workload never touched reads 0; an unknown or
    missing end-to-end metric is a harness bug and fails the run."""
    with open(os.path.join(build.ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    listed = bench["per_layer" if trace else "end_to_end"]
    got = result["metrics"]
    unknown = set(got) - {m["name"] for m in listed}
    missing = {m["name"] for m in listed} - set(got)
    if unknown or (missing and not trace):
        sys.exit("perfbench: metrics not in BENCHMARK.json: %s, missing: %s"
                 % (sorted(unknown), sorted(missing)))
    aliases = result.pop("aliases", {})
    result["metrics"] = {m["name"]: {"value": got.get(m["name"], 0.0),
                                     "unit": m["unit"]} for m in listed}
    if not trace:
        for k, v in result["metrics"].items():
            print("[perfbench] %-18s %14.4f %-5s %s"
                  % (k, v["value"], v["unit"], aliases.get(k, "")))
    return result


if __name__ == "__main__":
    main()
