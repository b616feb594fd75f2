#!/usr/bin/env python3
"""Run one graft benchmark run and print its result as one JSON line.

    python3 graftbench/run.py --workload {workbench,lake,graph} --seed N \
        --seconds S --trace {0,1}

Run it from the root of a checkout. The first run builds graft and the
benchmark from source (see build.py). Each run then starts one JVM with
Spark as local[2], writes all its inputs and outputs under a scratch
directory inside the build directory, deletes that directory at exit, and
prints as its last stdout line
    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}
with the end-to-end metrics for --trace 0 and the per-layer metrics for
--trace 1. Everything else goes to stderr.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys

sys.dont_write_bytecode = True  # keep the benchmark directory free of build litter
import build  # noqa: E402

WORKLOADS = ("workbench", "lake", "graph")
RUN_LIMIT_S = 170  # each run must end within 180 s once built


def main():
    p = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", required=True, type=int)
    p.add_argument("--seconds", required=True, type=int)
    p.add_argument("--trace", required=True, type=int, choices=(0, 1))
    args = p.parse_args()

    problems = build.missing_inputs()
    if problems:
        sys.exit("graftbench: cannot run: " + "; ".join(problems))
    jar = build.build()

    scratch = os.path.join(build.build_dir(), "run-%d" % os.getpid())
    shutil.rmtree(scratch, ignore_errors=True)
    os.makedirs(scratch)
    result = os.path.join(scratch, "result.json")
    share = build.archive(jar)
    cmd = build.java_command(jar, ["-XX:SharedArchiveFile=" + share] if os.path.exists(share) else [])
    cmd += ["graftbench.Main", "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--root", scratch, "--result", result]
    if args.trace:
        spans = os.path.join(build.build_dir(), "traces", "%s-seed%d.json" % (args.workload, args.seed))
        cmd += ["--spans", spans]
        print("[graftbench] spans: " + spans, file=sys.stderr)
    proc = subprocess.Popen(cmd, cwd=scratch, stdout=sys.stderr)
    # a SIGTERM to this process stops the JVM too, and still cleans up
    signal.signal(signal.SIGTERM, lambda *_: sys.exit("graftbench: terminated"))
    try:
        try:
            code = proc.wait(timeout=RUN_LIMIT_S)
        except subprocess.TimeoutExpired:
            code = "timeout"
        if code != 0 or not os.path.exists(result):
            sys.exit("graftbench: run failed (%s)" % code)
        with open(result) as fh:
            res = json.load(fh)
    finally:
        if proc.poll() is None:
            proc.kill()
            proc.wait()
        shutil.rmtree(scratch, ignore_errors=True)
    print("[graftbench] detail " + json.dumps(res.pop("detail")), file=sys.stderr)
    print(json.dumps({k: res[k] for k in ("correct", "attempted", "failed", "metrics")}), flush=True)


if __name__ == "__main__":
    main()
