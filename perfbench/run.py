#!/usr/bin/env python3
"""Benchmark entry point. Builds the engine and the benchmark from source (see
build.py), runs one workload in a fresh JVM and prints the result as the last
line of standard output:

    python3 perfbench/run.py --workload pit_pages --seed 1 --seconds 10 --trace 0

--trace 0 prints the end-to-end metrics, --trace 1 the per-layer ones. Inputs
and outputs live in a temporary directory under the build directory that is
removed afterwards; the full record of each run (host, samples, spans) stays in
<build dir>/records. The exit code is 0 only when the run completed and every
output check passed.
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
sys.path.insert(0, HERE)
import build  # noqa: E402

WORKLOADS = ("pit_pages", "clickstream_select")
# a run must end within 180 s; leave room for JVM shutdown and clean-up
JVM_TIMEOUT_S = 165

# Spark on JDK 17 needs these when the session is created outside spark-submit
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
    "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
    "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def heap_gb():
    """Half of MemTotal in whole GB, clamped to 2..8 (the repo's tier-1 rule)."""
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
        return max(2, min(8, kb // 2097152))
    except (OSError, StopIteration, ValueError):
        return 2


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    args = ap.parse_args()

    start = time.time()
    try:
        classes = build.build()
    except (build.BuildError, subprocess.TimeoutExpired, OSError) as e:
        sys.exit(f"build: {e}")
    jars = build.spark_jars()

    tmp = os.path.join(build.build_dir(), "tmp", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    result = os.path.join(tmp, "result.json")
    cmd = [build.java(), *ADD_OPENS, f"-Xmx{heap_gb()}g", "-Xss8m", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={tmp}",
           f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
           "-cp", os.pathsep.join([classes, os.path.join(jars, "*")]),
           "perfbench.Main", "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", args.trace, "--tmp", tmp,
           "--result", result, "--artifacts", os.path.join(build.build_dir(), "records"),
           "--pinned", os.path.join(HERE, "pinned.json")]
    proc = subprocess.Popen(cmd, start_new_session=True)

    def stop(signum, frame):
        raise KeyboardInterrupt
    signal.signal(signal.SIGTERM, stop)
    res = None
    try:
        code = proc.wait(timeout=JVM_TIMEOUT_S)
        with open(result) as f:
            res = json.load(f)
    except subprocess.TimeoutExpired:
        code = f"none: no result within {JVM_TIMEOUT_S} s"
    except (OSError, ValueError):
        pass
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
        shutil.rmtree(tmp, ignore_errors=True)
    if code != 0 or res is None:
        sys.exit(f"run: {args.workload} exited with code {code} and no result")
    sys.stderr.write(f"run: {time.time() - start:.1f} s in total\n")
    print(json.dumps(res))
    if not res["correct"]:
        sys.exit(f"run: {args.workload} produced wrong outputs; see the CHECK FAILED lines")


if __name__ == "__main__":
    main()
