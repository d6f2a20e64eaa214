#!/usr/bin/env python3
"""Run one benchmark workload in a fresh JVM and relay its result.

    python3 perfbench/run.py --workload extract_bulk --seed 1 \
        --seconds 5 --trace 0

Builds first when the sources changed (see build.py). The JVM gets one
SparkSession on local[k], k = min(4, nproc) - 1, and a fixed, pre-touched
heap. All files it writes stay under .bench_build/ in the checkout and
the run's own directory is removed afterwards. The last stdout line is
the result JSON; the exit code is non-zero when the build, the run or a
correctness check fails.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import threading

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import build  # noqa: E402

WORKLOADS = ("extract_bulk", "ingest_trickle", "curate_tail")
HEAP = "2g"
TIMEOUT_S = 175
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
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

    try:
        cp = build.build()
    except build.BuildError as e:
        sys.exit(f"build failed: {e}")

    # one core stays free for the JVM's own GC and JIT threads: on a
    # 4-vCPU VM, extract_bulk's pass times spread less between runs
    # under local[3] than under local[4]
    cores = max(1, min(4, os.cpu_count() or 1) - 1)
    work = os.path.join(build.OUT, "runs", f"{a.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    cmd = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+AlwaysPreTouch",
           f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
           f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main", "--workload", a.workload,
            "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--work", os.path.join(work, "data"),
            "--trace-file", os.path.join(build.OUT, "traces",
                                         f"{a.workload}-{a.seed}.json"),
            "--cores", str(cores)]

    last = None
    proc = subprocess.Popen(cmd, cwd=build.ROOT, stdout=subprocess.PIPE,
                            text=True)
    watchdog = threading.Timer(TIMEOUT_S, proc.kill)
    watchdog.start()
    # a stopped runner takes its JVM down with it
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        for line in proc.stdout:
            line = line.rstrip("\n")
            if line.startswith("{"):
                if last is not None:
                    print(last, flush=True)
                last = line
            else:
                print(line, file=sys.stderr)
        code = proc.wait()
    finally:
        watchdog.cancel()
        if proc.poll() is None:
            proc.kill()
        proc.wait()
        shutil.rmtree(work, ignore_errors=True)
    if code < 0:
        sys.exit(f"{a.workload} was killed by signal {-code} "
                 f"(runs are stopped after {TIMEOUT_S} s)")

    try:
        result = json.loads(last or "")
    except ValueError:
        sys.exit(f"{a.workload} exited {code} without a result")
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        sys.exit(f"{a.workload} printed a malformed result")
    with open(os.path.join(build.ROOT, "BENCHMARK.json")) as fh:
        declared = {m["name"] for m in
                    json.load(fh)["per_layer" if a.trace else "end_to_end"]}
    if set(result["metrics"]) != declared:
        sys.exit(f"{a.workload} printed metrics {sorted(result['metrics'])}, "
                 f"the manifest declares {sorted(declared)}")
    print(json.dumps(result), flush=True)
    sys.exit(code)


if __name__ == "__main__":
    main()
