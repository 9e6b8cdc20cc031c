#!/usr/bin/env python3
"""argusspark end-to-end benchmark.

Run from the root of a checkout:

    python3 perfbench/run.py --workload chain-tip --seed 1 --seconds 10 --trace 0

Builds the engine and the benchmark from source (perfbench/build.py) on
first use, then runs one workload in one JVM at local[nproc]. The last
stdout line is the result object: {"correct", "attempted", "failed",
"metrics"}; the line before it ("perfbench-detail {...}") carries the
workload's own named figures. `--workload all` runs every workload in
turn and prints all their detail lines. See perfbench/NOTES.md.
"""
import argparse
import json
import os
import subprocess
import sys

WORKLOADS = ["chain-catchup", "chain-tip"]
JVM_TIMEOUT_S = 170
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def run_one(cp, workload, seed, seconds, trace):
    tmp = os.path.abspath(os.path.join(".bench_build", "tmp"))
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java", "-XX:-UsePerfData", "-Xmx3g", "-Xss8m", f"-Djava.io.tmpdir={tmp}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main", "--workload", workload,
            "--seed", str(seed), "--seconds", str(seconds),
            "--trace", "1" if trace else "0", "--root", os.getcwd()]
    try:
        r = subprocess.run(cmd, stdout=subprocess.PIPE, text=True,
                           timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        print(f"perfbench: {workload} exceeded {JVM_TIMEOUT_S}s", file=sys.stderr)
        return None, []
    lines = [l for l in r.stdout.splitlines() if l.strip()]
    if r.returncode != 0 or not lines:
        print(f"perfbench: {workload} exited {r.returncode}", file=sys.stderr)
        sys.stderr.write(r.stdout)
        return None, lines
    try:
        result = json.loads(lines[-1])
    except ValueError:
        print("perfbench: no result line", file=sys.stderr)
        return None, lines
    return result, lines


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ["all"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    if not os.path.isdir(os.path.join("src", "main", "scala")):
        print("perfbench: run from the root of an argusspark checkout "
              "(src/main/scala not found)", file=sys.stderr)
        return 2
    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
    sys.dont_write_bytecode = True  # write nothing outside .bench_build
    import build
    cp = build.build()
    if a.workload != "all":
        result, lines = run_one(cp, a.workload, a.seed, a.seconds, a.trace)
        if result is None:
            return 1
        for l in lines:
            if l.startswith("perfbench-detail"):
                print(l)
        print(lines[-1])
        return 0
    results = {}
    for w in WORKLOADS:
        result, lines = run_one(cp, w, a.seed, a.seconds, a.trace)
        if result is None:
            return 1
        for l in lines[:-1]:
            if l.startswith("perfbench-detail"):
                print(w, l)
        results[w] = result
    print(json.dumps({
        "correct": all(r["correct"] for r in results.values()),
        "attempted": sum(r["attempted"] for r in results.values()),
        "failed": sum(r["failed"] for r in results.values()),
        "metrics": {f"{w}.{k}": v for w, r in results.items()
                    for k, v in r["metrics"].items()}}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
