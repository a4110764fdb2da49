#!/usr/bin/env python3
"""Run one workload of the benchmark and print its result.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the engine and the benchmark main if needed (see build.py), runs the
workload in one JVM at local[min(2, cores)], and prints two lines: the run
report (side fields: CPU probe, input sizes, storage memory, op walls,
failures) and, last, the result
{"correct", "attempted", "failed", "metrics"}. Exit code 0 when the outputs
are correct, 1 when an output is wrong or an operation failed, 2 when the
build or the run could not start, 3 on timeout. Reports and spans stay in
.bench_build/perfbench/reports.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import time

import build

WORKLOADS = ["crawl", "graph_build"]
TIME_LIMIT_S = 170


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--toy", action="store_true", help="toy-size inputs, for the self-test")
    ap.add_argument("--expected", default=str(build.HERE / "expected.tsv"),
                    help="expected outputs to check against")
    ap.add_argument("--record", metavar="FILE",
                    help="instead of a run, write one pass's outputs per input variant to FILE")
    args = ap.parse_args()
    try:
        build.build()
    except build.BuildError as e:
        print(f"perfbench: build failed: {e}", file=sys.stderr)
        return 2
    started = time.monotonic()

    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    work = build.BUILD / "work" / f"{tag}-{os.getpid()}"
    result = build.BUILD / "reports" / f"{tag}.result.json"
    report = result.with_name(f"{tag}.report.json")
    for stale in (result, report):
        stale.unlink(missing_ok=True)
    cds = [f"-XX:SharedArchiveFile={build.ARCHIVE}"] if build.ARCHIVE.is_file() else []
    cmd = build.java_cmd(work, *cds) + [
           "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", str(args.trace),
           "--work", str(work), "--result", str(result), "--expected", args.expected]
    if args.toy:
        cmd.append("--toy")
    if args.record:
        cmd += ["--record", os.path.abspath(args.record)]
    limit = None if args.record else TIME_LIMIT_S - (time.monotonic() - started)
    try:
        code = subprocess.run(cmd, stdout=sys.stderr, timeout=limit).returncode
    except subprocess.TimeoutExpired:
        print(f"perfbench: {tag} exceeded {TIME_LIMIT_S} s", file=sys.stderr)
        return 3
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if args.record or not result.is_file():
        return code if code else (0 if args.record else 2)
    print(report.read_text().strip())
    line = result.read_text().strip()
    print(line)
    return 0 if json.loads(line)["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
