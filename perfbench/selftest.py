#!/usr/bin/env python3
"""Self-test of the benchmark: every workload once at the self-test
scale (a 500-document / 500-embedding corpus, a 3,000-row export),
untraced and traced, with every output check. Fails unless every run is
correct and reports every metric it owes, every traced run wrote its
spans, and every per-layer metric of BENCHMARK.json is owed by some
workload.

    python3 perfbench/selftest.py [workload ...]
"""
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import build  # noqa: E402

WORKLOADS = ("load", "index_stream")
OWED = set()


def run(workload, trace):
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", "7", "--seconds", "4", "--trace", str(trace), "--scale", "tiny"]
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        return f"exit {p.returncode}: {p.stderr.strip().splitlines()[-3:]}"
    res = json.loads(lines[-1])
    if not res["correct"] or res["failed"] != 0:
        return f"incorrect: {[l for l in lines if 'CHECK FAILED' in l]}"
    owed = [l.split(": ", 1)[1].split(",") for l in lines if l.startswith("[perfbench] owed: ")]
    if not owed:
        return "no owed-metric line"
    if trace:
        OWED.update(owed[0])
        spans = os.path.join(build.build_dir(), "work", f"{workload}-tiny", "run", "spans.jsonl")
        with open(spans) as fh:
            if not [json.loads(l) for l in fh]:
                return "no spans written"
    return None


def main():
    failures = 0
    workloads = sys.argv[1:] or WORKLOADS
    for w in workloads:
        for trace in (0, 1):
            err = run(w, trace)
            print(f"{'FAIL' if err else 'ok  '} {w} trace={trace}" + (f": {err}" if err else ""))
            failures += bool(err)
    if not failures and set(workloads) == set(WORKLOADS):
        # run.py already failed any run that missed a metric it owes;
        # here every per-layer metric must be owed by some workload
        with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
            never = {m["name"] for m in json.load(fh)["per_layer"]} - OWED
        print(f"{'FAIL' if never else 'ok  '} every per-layer metric is measured by a workload"
              + (f": never {sorted(never)}" if never else ""))
        failures += bool(never)
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
