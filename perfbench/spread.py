#!/usr/bin/env python3
"""Run-to-run spread of the end-to-end metrics, against BENCHMARK.json's bounds.

Usage (from the repository root):
  python3 perfbench/spread.py --workload <name> [--seeds 1-10]

Runs the benchmark untraced once per seed, one run at a time, and prints
for each metric its median, quartiles and the distance between the
quartiles as a share of the median (statistics.quantiles(values, n=4)),
next to the metric's bound. Every run's result line is appended to
.bench_build/spread-<workload>.jsonl.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def seeds(spec):
    lo, _, hi = spec.partition("-")
    return range(int(lo), int(hi or lo) + 1)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    a = ap.parse_args()
    with open("BENCHMARK.json") as f:
        spec = json.load(f)
    bounds = {m["name"]: m.get("bound") for m in spec["end_to_end"]}
    values = {}
    os.makedirs(".bench_build", exist_ok=True)
    log = open(os.path.join(".bench_build", f"spread-{a.workload}.jsonl"), "a")
    for s in seeds(a.seeds):
        r = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", a.workload,
                            "--seed", str(s), "--seconds", str(spec["run_seconds"]),
                            "--trace", "0"], stdout=subprocess.PIPE, text=True)
        last = r.stdout.strip().splitlines()[-1] if r.stdout.strip() else ""
        if r.returncode != 0 or not last.startswith("{"):
            print(f"seed {s}: exit {r.returncode}", file=sys.stderr)
            continue
        log.write(json.dumps({"seed": s, "result": json.loads(last)}) + "\n")
        log.flush()
        for k, v in json.loads(last)["metrics"].items():
            values.setdefault(k, []).append(v["value"])
        print(f"seed {s}: " + " ".join(f"{k}={v[-1]:.4g}" for k, v in values.items()), flush=True)
    for k, v in values.items():
        if len(v) < 2:
            continue
        q = statistics.quantiles(v, n=4)
        med = statistics.median(v)
        spread = (q[2] - q[0]) / med if med else float("nan")
        b = bounds.get(k)
        print(f"{k}: n={len(v)} median={med:.4g} q1={q[0]:.4g} q3={q[2]:.4g} "
              f"spread={spread:.3f}" + (f" bound={b} ({spread / b:.2f} of it)" if b else ""))


if __name__ == "__main__":
    main()
