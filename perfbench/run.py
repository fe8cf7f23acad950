#!/usr/bin/env python3
"""graft benchmark: one command for every workload in BENCHMARK.json.

    python3 perfbench/run.py --workload pcap_convert --seed 1 --seconds 10 --trace 0

Run from the repository root. Builds the program from source on first use
(see build.py), generates the workload's inputs from --seed, runs the
workload in one JVM on local[N] (N = usable cores) with one client thread
in a closed loop for --seconds of op time, checks every answer, and prints
a report whose last line is one JSON object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {name: {"value", "unit"}}}

--trace 0 reports the end-to-end metrics; --trace 1 runs the traced mode
and reports the per-layer metrics (0 for a layer the workload never
enters). See perfbench/README.md.
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

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True  # leave no __pycache__ in the source tree

import build  # noqa: E402

JVM_TIMEOUT_S = 160


def host_speed_ms():
    """Time of a fixed pure-Python loop: a host-speed reading for the report."""
    t = time.perf_counter()
    s = 0
    for i in range(2_000_000):
        s += i
    return (time.perf_counter() - t) * 1000


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(1)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    # a terminated benchmark still stops its JVM (the finally below)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    spec = json.load(open(os.path.join(build.ROOT, "BENCHMARK.json")))
    if args.workload not in [w["name"] for w in spec["workloads"]]:
        fail(f"unknown workload {args.workload}")
    wanted = spec["per_layer"] if args.trace else spec["end_to_end"]

    classpath, archive = build.build()
    runs = os.path.join(build.build_dir(), "runs")
    os.makedirs(runs, exist_ok=True)
    work = tempfile.mkdtemp(prefix=f"{args.workload}-{args.seed}-", dir=runs)
    proc = None
    try:
        cmd = ["java", "-Xms3g", "-Xmx3g", "-Xss4m", *build.jvm_flags(archive), *build.java_opens(),
               "-Duser.timezone=UTC", f"-Djava.io.tmpdir={work}",
               "-Dlog4j2.configurationFile=" + os.path.join(HERE, "log4j2.properties"),
               "-cp", classpath, "perfbench.Main",
               "--workload", args.workload, "--seed", str(args.seed),
               "--seconds", str(args.seconds), "--trace", str(args.trace),
               "--work", work, "--cpus", str(len(os.sched_getaffinity(0)))]
        if args.trace:
            traces = os.path.join(build.build_dir(), "traces")
            os.makedirs(traces, exist_ok=True)
            cmd += ["--trace-out", os.path.join(traces, f"{args.workload}-{args.seed}.jsonl")]
        speed_before = host_speed_ms()
        log_path = os.path.join(work, "jvm-stderr.log")
        with open(log_path, "w") as log:
            proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=log, text=True)
            watchdog = threading.Timer(JVM_TIMEOUT_S, proc.kill)
            watchdog.start()
            result = None
            try:
                for line in proc.stdout:
                    if line.startswith("PERFBENCH_RESULT "):
                        result = json.loads(line[len("PERFBENCH_RESULT "):])
                    else:
                        print(line, end="", flush=True)
                code = proc.wait()
            finally:
                watchdog.cancel()
        print(f"host speed probe: {speed_before:.0f} ms before, {host_speed_ms():.0f} ms after the run")
        if code != 0 or result is None:
            tail = open(log_path).read().splitlines()[-40:]
            print("\n".join(tail), file=sys.stderr)
            fail(f"workload {args.workload} crashed (exit {code}); no result")
    finally:
        if proc is not None and proc.poll() is None:
            proc.kill()
            proc.wait()
        shutil.rmtree(work, ignore_errors=True)

    got = result["metrics"]
    metrics = {}
    for m in wanted:
        v = got.get(m["name"])
        if v is None:
            if not args.trace:
                fail(f"end-to-end metric {m['name']} was not measured")
            v = 0.0  # the workload never enters this layer
        metrics[m["name"]] = {"value": v, "unit": m["unit"]}
        print(f"{m['name']:<40} {v:>16.6g} {m['unit']}")
    failed = result["failed"]
    out = {"correct": failed == 0, "attempted": result["attempted"], "failed": failed, "metrics": metrics}
    print(json.dumps(out))


if __name__ == "__main__":
    main()
