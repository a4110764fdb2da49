#!/usr/bin/env python3
"""Toy-size self-test of the benchmark.

Runs every workload of BENCHMARK.json on toy inputs, untraced and traced,
and checks that each result line has exactly the metric names and units the
spec declares (end_to_end untraced, per_layer traced) and passes the
correctness gate. Then it corrupts one expected output and checks that the
gate fails: the run prints correct=false and exits with code 1. Takes a few
minutes.

    python3 perfbench/selftest.py
"""
import json
import subprocess
import sys

import build

SEED = 3


def run(workload, trace, expected=None):
    cmd = [sys.executable, str(build.HERE / "run.py"), "--workload", workload,
           "--seed", str(SEED), "--seconds", "1", "--trace", str(trace), "--toy"]
    if expected:
        cmd += ["--expected", str(expected)]
    p = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True,
                       timeout=300)
    lines = p.stdout.strip().splitlines()
    return p.returncode, json.loads(lines[-1]) if lines else None


def main():
    spec = json.loads((build.ROOT / "BENCHMARK.json").read_text())
    problems = []
    for w in spec["workloads"]:
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            code, res = run(w["name"], trace)
            where = f"{w['name']} trace={trace}"
            before = len(problems)
            if code != 0 or res is None:
                problems.append(f"{where}: exit code {code}")
                continue
            want = {m["name"]: m["unit"] for m in spec[key]}
            got = {n: v["unit"] for n, v in res["metrics"].items()}
            if set(res) != {"correct", "attempted", "failed", "metrics"}:
                problems.append(f"{where}: result keys {sorted(res)}")
            if got != want:
                problems.append(f"{where}: metrics differ from BENCHMARK.json: "
                                f"missing {sorted(set(want) - set(got))}, "
                                f"extra {sorted(set(got) - set(want))}, "
                                f"units {[n for n in want if n in got and got[n] != want[n]]}")
            if not res["correct"] or res["failed"] or res["attempted"] < 1:
                problems.append(f"{where}: gate failed on recorded outputs: {res}")
            print(f"{where}: {'ok' if len(problems) == before else 'FAILED'}")

    # one wrong expected value must fail the gate
    variant = SEED % 16
    lines = (build.HERE / "expected.tsv").read_text().splitlines()
    target = next(i for i, l in enumerate(lines)
                  if l.startswith(f"toy\tcrawl\t{variant}\turls\t"))
    fields = lines[target].split("\t")
    fields[4] = str(int(fields[4]) + 1)
    lines[target] = "\t".join(fields)
    corrupt = build.BUILD / "selftest-expected.tsv"
    corrupt.write_text("\n".join(lines) + "\n")
    code, res = run("crawl", 0, corrupt)
    if code != 1 or res is None or res["correct"] or res["failed"] < 1:
        problems.append(f"corrupted expected output was not caught: exit {code}, {res}")
    else:
        print("corrupted expected output: caught")

    for p in problems:
        print(f"FAIL {p}")
    print("self-test", "failed" if problems else "passed")
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
