#!/usr/bin/env python3
"""Benchmark entry point for the graft engine.

    python3 perfbench/run.py --workload {load,index_stream} \\
        --seed N --seconds S --trace {0,1} [--scale tiny] [--record]

Builds the engine and the benchmark from source when stale (see
build.py), then runs one workload in its own JVM (local[<cores>],
the session settings of graft.Bench). The last line of stdout is one
JSON object: correct / attempted / failed and, with --trace 0, every
end-to-end metric of BENCHMARK.json, with --trace 1 every per-layer
metric. The run fails when the workload misses a metric it owes;
per-layer metrics of layers a workload does not exercise read 0. The
traced run also writes its spans as JSONL under the build directory.

--scale tiny runs the self-test scale; --record rewrites the goldens
for the chosen scale and workload from this run's results.
"""
import argparse
import json
import math
import os
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import build  # noqa: E402

WORKLOADS = ("load", "index_stream")
# JVM flags Spark needs on JDK 17 outside spark-submit (the list build.sbt uses)
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]
RUN_TIMEOUT_S = 172


def metric_specs():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    return spec["end_to_end"], spec["per_layer"]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", choices=("bench", "tiny"), default="bench")
    ap.add_argument("--record", action="store_true")
    a = ap.parse_args()

    e2e, per_layer = metric_specs()
    classes = build.build()
    bdir = build.build_dir()
    work = os.path.join(bdir, "work", f"{a.workload}-{a.scale}")
    out = os.path.join(bdir, f"result-{a.workload}-{a.scale}.json")
    log = os.path.join(bdir, f"jvm-{a.workload}-{a.scale}.log")
    if os.path.exists(out):
        os.remove(out)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = (["java", "-Xms3g", "-Xmx3g", "-XX:+UseG1GC", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
            f"-Dderby.system.home={work}", "-Dspark.ui.enabled=false"] + ADD_OPENS +
           ["-cp", os.pathsep.join([classes, os.path.join(build.spark_jars(), "*")]),
            "graftbench.Main", "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace), "--scale", a.scale,
            "--work", os.path.join(work, "run"), "--out", out,
            "--goldens", os.path.join(HERE, "goldens.tsv")] +
           (["--record"] if a.record else []))
    with open(log, "w") as lf:
        proc = subprocess.Popen(cmd, stdout=lf, stderr=subprocess.STDOUT, cwd=ROOT)

        def stop(signum, _frame):  # never leave the JVM behind
            proc.kill()
            proc.wait()
            sys.exit(128 + signum)
        signal.signal(signal.SIGTERM, stop)
        signal.signal(signal.SIGINT, stop)
        try:
            rc = proc.wait(timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            rc = "timeout"
    with open(log, errors="replace") as lf:
        lines = lf.read().splitlines()
    if rc != 0 or not os.path.exists(out):
        sys.stderr.write("\n".join(lines[-60:]) + "\n")
        sys.stderr.write(f"run: workload {a.workload} failed (exit {rc}); log {log}\n")
        return 1
    for line in lines:
        if line.startswith("[perfbench]"):
            print(line)
    with open(out) as fh:
        res = json.load(fh)

    specs = per_layer if a.trace else e2e
    names = {m["name"] for m in specs}
    got, owed = res["metrics"], res["owed"]
    # the JVM exits non-zero when it misses an owed metric; these catch
    # a workload and BENCHMARK.json drifting apart
    unknown = sorted((set(got) | set(owed)) - names)
    if unknown:
        sys.stderr.write(f"run: metrics missing from BENCHMARK.json: {unknown}\n")
        return 1
    bad = sorted(k for k in owed if not (k in got and math.isfinite(got[k])))
    if not a.trace:
        bad += sorted(names - set(owed)) + sorted(k for k in owed if got.get(k, 0) <= 0)
    if bad:
        sys.stderr.write(f"run: metrics not measured or not valid: {bad}\n")
        return 1
    print("[perfbench] owed: " + ",".join(owed))
    # per-layer metrics of layers this workload does not exercise read 0
    metrics = {m["name"]: {"value": got.get(m["name"], 0.0) if m["name"] in owed else 0.0,
                           "unit": m["unit"]} for m in specs}
    attempted, failed = int(res["attempted"]), int(res["failed"])
    print(json.dumps({"correct": failed == 0 and attempted >= 1,
                      "attempted": max(attempted, 1), "failed": failed,
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
